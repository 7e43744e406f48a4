package graft.ml

import org.apache.commons.io.FileUtils
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Specs for the RELIEF-F estimator/model: informative-feature
  * recovery (dense + sparse), hit/miss weight signs, kNN determinism,
  * transform compression, and persistence round-trip — the reference's
  * own test axes (reference ReliefSelectorSuite.scala), re-expressed.
  */
class ReliefSpec extends SparkSpec {

  /** 300 rows, 8 features: f0 and f1 carry the two-class signal
    * (well-separated means), f2..f7 are seeded uniform noise.
    */
  private def syntheticDense(): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val label = (i % 2).toDouble
      val f0 = (if (label == 0.0) -1.0 else 1.0) + rnd.nextGaussian() * 0.1
      val f1 = (if (label == 0.0) 1.0 else -1.0) + rnd.nextGaussian() * 0.1
      val noise = Array.fill(6)(rnd.nextDouble() * 2 - 1)
      (label, Vectors.dense(Array(f0, f1) ++ noise))
    }
    rows.toDF("label", "features")
  }

  private def fit(df: DataFrame, red: Boolean = false): ReliefFRSelectorModel =
    new ReliefFRSelector()
      .setInputCol("features").setLabelCol("label").setOutputCol("out")
      .setNumTopFeatures(3).setNumNeighbors(5)
      .setEstimationRatio(0.5).setBatchSize(0.5)
      .setRedundancyRemoval(red).setSeed(42L)
      .fit(df)

  test("recovers informative features on dense data") {
    val m = fit(syntheticDense())
    assert(m.stdSelection.toSet.intersect(Set(0, 1)) == Set(0, 1),
      s"informative features not recovered: ${m.stdSelection.mkString(",")}")
    // informative features get the largest normalized weights
    assert(m.featureWeights(0) > m.featureWeights(3))
    assert(m.featureWeights(1) > m.featureWeights(3))
  }

  test("row-capped batching recovers the same informative features, layout-invariant") {
    val df = syntheticDense()
    // cap forces ≥ ceil(150/40) = 4 batches instead of 2
    def fitCapped(d: DataFrame) = new ReliefFRSelector()
      .setInputCol("features").setLabelCol("label").setOutputCol("out")
      .setNumTopFeatures(3).setNumNeighbors(5)
      .setEstimationRatio(0.5).setBatchSize(0.5)
      .setMaxQueryRowsPerBatch(40)
      .setSeed(42L).fit(d)
    val m = fitCapped(df)
    assert(m.stdSelection.toSet.intersect(Set(0, 1)) == Set(0, 1),
      s"informative features not recovered with row cap: ${m.stdSelection.mkString(",")}")
    // batch count derives from a deterministic COUNT, so the capped fit
    // stays invariant under re-partitioning (selection exactly; weights
    // to treeAggregate combine-order ulp drift)
    val m2 = fitCapped(df.repartition(7))
    assert(m2.stdSelection.toSeq == m.stdSelection.toSeq)
    assert(m2.featureWeights.zip(m.featureWeights).forall {
      case (a, b) => math.abs(a - b) < 1e-12
    })
  }

  test("recovers informative features on sparse data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      val label = (i % 2).toDouble
      // f0 informative; f5/f9 sporadic noise; everything else zero
      val active = scala.collection.mutable.ArrayBuffer(0 -> ((if (label == 0.0) -1.0 else 1.0) + rnd.nextGaussian() * 0.1))
      if (rnd.nextDouble() < 0.3) active += 5 -> rnd.nextDouble()
      if (rnd.nextDouble() < 0.3) active += 9 -> rnd.nextDouble()
      (label, Vectors.sparse(12, active.sortBy(_._1).toSeq))
    }
    val m = fit(rows.toDF("label", "features"))
    assert(m.stdSelection.contains(0),
      s"informative sparse feature not recovered: ${m.stdSelection.mkString(",")}")
  }

  test("redundancy removal demotes a duplicated feature") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 300).map { i =>
      val label = (i % 2).toDouble
      val f0 = (if (label == 0.0) -1.0 else 1.0) + rnd.nextGaussian() * 0.05
      val f2 = (if (label == 0.0) 1.0 else -1.0) + rnd.nextGaussian() * 0.05
      // f1 is a near-copy of f0: relevant but redundant
      val v = Vectors.dense(f0, f0 + rnd.nextGaussian() * 0.01, f2,
        rnd.nextDouble(), rnd.nextDouble())
      (label, v)
    }
    val df = rows.toDF("label", "features")
    val m = fit(df, red = true)
    // both rankings exist and redundancy ranking is a permutation of valid features
    assert(m.redundancySelection.length == 3)
    assert(m.redundancySelection.distinct.length == 3)
    // the redundancy-aware ranking should pick the independent informative
    // feature (2) among its top picks rather than both duplicates first
    assert(m.redundancySelection.take(2).toSet != Set(0, 1),
      s"redundant duplicate pair ranked first: ${m.redundancySelection.mkString(",")}")
  }

  test("transform compresses dense and sparse vectors to selected indices") {
    val sel = Array(1, 3, 4)
    val dense = ReliefFRSelectorModel.compress(Vectors.dense(10, 11, 12, 13, 14), sel)
    assert(dense.toArray.toSeq == Seq(11.0, 13.0, 14.0))
    val sparse = ReliefFRSelectorModel.compress(
      Vectors.sparse(5, Array(1, 2, 4), Array(1.0, 2.0, 4.0)), sel)
    assert(sparse.isInstanceOf[org.apache.spark.ml.linalg.SparseVector])
    assert(sparse.toArray.toSeq == Seq(1.0, 0.0, 4.0))
  }

  test("model transform appends output column") {
    val df = syntheticDense()
    val m = fit(df)
    val out = m.transform(df)
    val first = out.select("out").head().getAs[Vector](0)
    assert(first.size == 3)
  }

  test("persistence round-trip preserves selections, weights, params") {
    val m = fit(syntheticDense(), red = true)
    val path = "/tmp/graft_relief_spec_model"
    m.write.overwrite().save(path)
    val loaded = ReliefFRSelectorModel.load(path)
    assert(loaded.stdSelection.toSeq == m.stdSelection.toSeq)
    assert(loaded.redundancySelection.toSeq == m.redundancySelection.toSeq)
    assert(loaded.featureWeights.toSeq == m.featureWeights.toSeq)
    assert(loaded.getOrDefault(loaded.redundancyRemoval))
    // estimator persistence too
    val est = new ReliefFRSelector().setNumTopFeatures(7)
    est.write.overwrite().save("/tmp/graft_relief_spec_est")
    val estLoaded = ReliefFRSelector.load("/tmp/graft_relief_spec_est")
    assert(estLoaded.getOrDefault(estLoaded.numTopFeatures) == 7)
  }

  test("TopK keeps the k lexicographically-smallest pairs, merge-order independent") {
    val rnd = new scala.util.Random(3)
    val pairs = Array.fill(200)((rnd.nextInt(50).toDouble, rnd.nextLong()))
    val expected = pairs.distinct.sortBy(identity).take(8).toSeq
    val one = new TopK(8); pairs.distinct.foreach { case (d, i) => one.add(d, i) }
    assert(one.sorted.toSeq == expected)
    // split into 4 shards, merge in a different order
    val shards = pairs.distinct.grouped(30).map { g =>
      val t = new TopK(8); g.foreach { case (d, i) => t.add(d, i) }; t
    }.toSeq
    val merged = shards.reverse.reduce((a, b) => a.merge(b))
    assert(merged.sorted.toSeq == expected)
  }

  test("discrete data path: exact-match collisions, informative feature recovered") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 300).map { i =>
      val label = (i % 3).toDouble
      // f0 = label (fully informative, discrete); f1/f2 uniform discrete noise
      val v = Vectors.dense(label, rnd.nextInt(3).toDouble, rnd.nextInt(3).toDouble)
      (label, v)
    }
    val m = new ReliefFRSelector()
      .setInputCol("features").setLabelCol("label").setOutputCol("out")
      .setNumTopFeatures(1).setNumNeighbors(5)
      .setEstimationRatio(0.5).setBatchSize(0.5)
      .setDiscreteData(true).setRedundancyRemoval(true).setSeed(99L)
      .fit(rows.toDF("label", "features"))
    assert(m.stdSelection.head == 0,
      s"discrete informative feature not top-ranked: ${m.stdSelection.mkString(",")}")
    assert(m.redundancySelection.nonEmpty)
  }

  test("highDimMode (sparse accumulation) selects identically to dense mode") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 300).map { i =>
      val label = (i % 2).toDouble
      val active = scala.collection.mutable.ArrayBuffer(
        2 -> ((if (label == 0.0) -1.0 else 1.0) + rnd.nextGaussian() * 0.1))
      if (rnd.nextDouble() < 0.4) active += 7 -> rnd.nextDouble()
      if (rnd.nextDouble() < 0.4) active += 11 -> rnd.nextDouble()
      (label, Vectors.sparse(16, active.sortBy(_._1).toSeq))
    }
    val df = rows.toDF("label", "features")
    def fitWith(hd: Boolean) = new ReliefFRSelector()
      .setInputCol("features").setLabelCol("label").setOutputCol("out")
      .setNumTopFeatures(3).setNumNeighbors(5)
      .setEstimationRatio(0.5).setBatchSize(0.5)
      .setRedundancyRemoval(true).setHighDimMode(hd).setSeed(5L)
      .fit(df)
    val dense = fitWith(false)
    val sparse = fitWith(true)
    assert(dense.stdSelection.toSeq == sparse.stdSelection.toSeq)
    assert(dense.redundancySelection.toSeq == sparse.redundancySelection.toSeq)
    assert(dense.stdSelection.head == 2)
    // weights agree on every touched feature
    val diffs = dense.featureWeights.zip(sparse.featureWeights)
      .filter { case (a, b) => math.abs(a - b) > 1e-12 }
    assert(diffs.isEmpty, s"weights diverge: $diffs")
  }

  test("hit/miss weight math matches a hand computation exactly") {
    // 4 points, 2 classes, 3 features: f0 informative, f1 = f0/2, f2 ≡ 0.
    // With estimationRatio=1, one batch, one neighbor per class:
    //   hits:  per class, |diff| sums 0.4 over 2 neighbors each
    //   misses: |diff| sums 1.8 over 2 neighbors each
    //   w(f0) = 2·(−0.5·0.4/2) + 2·(0.5·1.8/2) = −0.2 + 0.9 = 0.7
    //   w(f1) = w(f0)/2 = 0.35, w(f2) = 0
    // min-max normalized → (1.0, 0.5, 0.0)
    import spark.implicits._
    val df = Seq(
      (0.0, Vectors.dense(0.0, 0.0, 0.0)),
      (0.0, Vectors.dense(0.2, 0.1, 0.0)),
      (1.0, Vectors.dense(1.0, 0.5, 0.0)),
      (1.0, Vectors.dense(1.2, 0.6, 0.0))
    ).toDF("label", "features").coalesce(1)
    val m = new ReliefFRSelector()
      .setInputCol("features").setLabelCol("label").setOutputCol("out")
      .setNumTopFeatures(2).setNumNeighbors(1)
      .setEstimationRatio(1.0).setBatchSize(1.0)
      .setSeed(1L)
      .fit(df)
    val w = m.featureWeights
    assert(math.abs(w(0) - 1.0) < 1e-12, s"w=${w.toSeq}")
    assert(math.abs(w(1) - 0.5) < 1e-12, s"w=${w.toSeq}")
    assert(math.abs(w(2) - 0.0) < 1e-12, s"w=${w.toSeq}")
    assert(m.stdSelection.toSeq == Seq(0, 1))
  }

  test("degenerate sample (no query points) falls back instead of crashing") {
    import spark.implicits._
    val df = Seq(
      (0.0, Vectors.dense(1.0, 2.0)), (1.0, Vectors.dense(3.0, 4.0)),
      (0.0, Vectors.dense(5.0, 6.0)), (1.0, Vectors.dense(7.0, 8.0))
    ).toDF("label", "features")
    val m = new ReliefFRSelector()
      .setInputCol("features").setLabelCol("label").setOutputCol("out")
      .setNumTopFeatures(2).setNumNeighbors(1)
      .setEstimationRatio(1e-9).setBatchSize(1.0).setSeed(3L)
      .fit(df)
    assert(m.stdSelection.length == 2)
    assert(m.transform(df).count() == 4)
  }

  test("transform's Catalyst expression matches compress() exactly on mixed dense/sparse, and plans UDF-free") {
    import spark.implicits._
    // mixed frame: dense rows interleaved with sparse rows of varied
    // support (empty overlap, partial overlap, full overlap)
    val rnd = new scala.util.Random(11)
    val vecs: Seq[Vector] = (0 until 60).map { i =>
      if (i % 2 == 0) Vectors.dense(Array.fill(8)(rnd.nextDouble()))
      else {
        val nnz = i % 5
        val idx = rnd.shuffle((0 until 8).toList).take(nnz).sorted.toArray
        Vectors.sparse(8, idx, idx.map(_ => rnd.nextDouble()))
      }
    }
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "features")
    val m = fit(syntheticDense()) // any fitted model; selection from it
    val sel = m.getSelectedFeatures().sorted
    val out = m.transform(df).select("id", "out").collect()
      .map(r => r.getLong(0) -> r.getAs[Vector](1)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val want = ReliefFRSelectorModel.compress(v, sel)
      val got = out(i.toLong)
      assert(got.getClass == want.getClass,
        s"row $i: sparsity not preserved (${got.getClass} vs ${want.getClass})")
      assert(got == want, s"row $i: $got != $want")
    }
    // the projection must stay inside codegen — no ScalaUDF /
    // BatchEvalPython boundary anywhere in the executed plan. A local
    // relation constant-folds the projection away (ConvertToLocalRelation),
    // so assert over a parquet-backed frame — the real serving shape.
    val tmp = java.nio.file.Files.createTempDirectory("graft_veccomp").toString
    df.write.mode("overwrite").parquet(tmp)
    val plan = m.transform(spark.read.parquet(tmp))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"transform plan fell back to a UDF:\n$plan")
    assert(plan.contains("graft_vec_compress"),
      s"expression missing from plan:\n$plan")
  }

  test("i04 composition: ENN editing restores recovery a noise-planted raw fit loses") {
    // the composed instance-selection → RELIEF property (the reference
    // author's ISAlgorithms-companion workflow, i04's reason to
    // exist): on a CLUSTERED corpus with planted label noise, Wilson
    // editing removes the noise and the edited fit recovers the
    // informative pair the raw fit loses. Corpus: 120 rows, f0/f1
    // informative (+3.0 separation), f2..f7 N(0,1) noise, labels
    // FLIPPED on every 5th row (20% planted noise — enough to break
    // the raw fit, measured).
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val clean = (0 until 120).map { i =>
      val label = (i % 2).toDouble
      val fs = Array.fill(8)(rnd.nextGaussian())
      fs(0) += 3.0 * label; fs(1) += 3.0 * label
      (i.toLong, label, fs)
    }
    val planted = clean.map { case (id, l, fs) =>
      (id, if (id % 5 == 0) 1.0 - l else l, fs) }
    val flipped = planted.filter(_._1 % 5 == 0).map(_._1).toSet
    val df = planted.map { case (id, l, fs) => (id, l, Vectors.dense(fs)) }
      .toDF("vec_id", "label", "features")

    // Wilson ENN (the i01 rule: plurality of the k=5 nearest
    // neighbors strictly outvoting the own label), exact kNN — the
    // 120-row spec replay of the capped-LSH substrate's vote
    val rows = planted
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }; s
    }
    val flagged = rows.filter { case (i, li, fi) =>
      val nn = rows.filter(_._1 != i)
        .sortBy { case (jd, _, fj) => (dist2(fi, fj), jd) }.take(5)
      val same = nn.count(_._2 == li)
      (nn.length - same) > same
    }.map(_._1).toSet
    // editing precision on the planted corpus: catches ≥ 80% of the
    // flips, false-flags only boundary rows
    assert((flagged & flipped).size >= (flipped.size * 0.8).toInt,
      s"ENN missed too many planted flips: caught ${(flagged & flipped).size}/${flipped.size}")
    assert((flagged -- flipped).size <= 10, // boundary rows of the 3σ overlap
      s"ENN false-flagged too many clean rows: ${(flagged -- flipped).size}")

    def fitOn(d: DataFrame) = new ReliefFRSelector()
      .setInputCol("features").setLabelCol("label").setOutputCol("out")
      .setNumTopFeatures(2).setNumNeighbors(3)
      .setEstimationRatio(1.0).setBatchSize(0.5)
      .setDiscreteData(false).setSeed(123456789L)
      .setInstanceIdCol("vec_id")
      .fit(d)
    val raw = fitOn(df)
    val edited = fitOn(df.where(!col("vec_id").isin(flagged.toSeq: _*)))
    info(s"raw top-2: ${raw.stdSelection.mkString(",")}; " +
      s"edited top-2: ${edited.stdSelection.mkString(",")}")
    // the pinned property: the edited fit recovers the informative
    // pair exactly; the raw fit, at this noise level, does not
    assert(edited.stdSelection.toSet == Set(0, 1),
      s"edited fit failed to recover: ${edited.stdSelection.mkString(",")}")
    assert(raw.stdSelection.toSet != Set(0, 1),
      s"raw fit unexpectedly recovered despite 20% noise: ${raw.stdSelection.mkString(",")}")
  }

  test("ENN's locality precondition, measured: Wilson editing cannot clean XOR100") {
    // the honest boundary of the i04 composition (and why its spec
    // corpus above is clustered): on XOR-in-99-noise-bits data the
    // class signal is 2 of 99 bits, neighborhoods are ~random, and
    // Wilson's rule flags ~60% of ALL rows instead of the noise —
    // instance selection needs local label coherence BEFORE feature
    // selection has removed the noise dims (the classic IS↔FS
    // chicken-and-egg, observed directly). Pin the measured blast
    // radius so nobody "fixes" i04 by pointing it at data like this.
    val raw = spark.read.option("inferSchema", "true")
      .csv("/root/reference/src/test/resources/data/DatasetsKAIS/XOR100.csv")
    val rows = raw.collect().map { r =>
      val vals = (0 until r.length).map(j => r.get(j).toString.toDouble).toArray
      (vals.last.toLong, vals.dropRight(1))
    }.zipWithIndex.map { case ((l, fs), i) => (i.toLong, l, fs) }.toSeq
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }; s
    }
    val flagged = rows.filter { case (i, li, fi) =>
      val nn = rows.filter(_._1 != i)
        .sortBy { case (jd, _, fj) => (dist2(fi, fj), jd) }.take(5)
      val same = nn.count(_._2 == li)
      (nn.length - same) > same
    }
    info(s"ENN flags ${flagged.size}/${rows.size} of CLEAN XOR100")
    assert(flagged.size > rows.size / 2,
      "expected Wilson editing to misfire on parity data — did the corpus change?")
  }

  test("kddb-scale: 20k x 30M sparse libsvm fit is bounded by active dims") {
    // the reference README's one scale claim not yet matched by a pin
    // (README.md:19 — kddb, "20M instances, nearly 30M of features"):
    // a 30M-dimension sparse corpus through the reference's libsvm
    // entry point, fit under highDimMode with a pinned absolute query
    // budget. The runtime-shape contract: NOTHING in the fit or the
    // model materializes an O(nFeat) frame — accumulators are
    // feature-keyed maps, the model stores (active dim, weight) pairs
    // plus one shared absent weight, and persistence rounds-trip the
    // sparse payload. 30M-long dense arrays would be 240 MB per task
    // otherwise; here the bound is the ~200k ACTIVE dims.
    val nFeat = 30000000
    val planted = nFeat - 2 // 0-based feature; libsvm index nFeat-1
    val nRows = 20000
    def mix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val f = java.nio.file.Files.createTempFile("graft_kddb_scale", ".txt")
    val w = java.nio.file.Files.newBufferedWriter(f)
    try {
      var i = 0
      while (i < nRows) {
        val label = i % 2
        // 12 deterministic noise dims spread over the full 30M range
        // (~240k distinct across the corpus), one planted dim whose
        // value is the label signal
        val idxs = (0 until 12).map { j =>
          1 + math.floorMod(mix(i.toLong * 31 + j), nFeat - 2).toInt
        }.distinct.sorted
        val sb = new StringBuilder
        sb.append(label)
        idxs.foreach { ix =>
          sb.append(' ').append(ix).append(':')
            .append(0.25 * (1 + math.floorMod(mix(ix.toLong ^ i), 3)))
        }
        sb.append(' ').append(planted + 1).append(':')
          .append(if (label == 0) -1.0 else 1.0)
        w.write(sb.toString); w.newLine()
        i += 1
      }
    } finally w.close()
    val df = spark.read.format("libsvm")
      .option("numFeatures", nFeat.toString).load(f.toString)
    val t0 = System.nanoTime()
    val m = new ReliefFRSelector()
      .setInputCol("features").setLabelCol("label").setOutputCol("out")
      .setNumTopFeatures(10).setNumNeighbors(3)
      .setEstimationRatio(200.0 / nRows) // pinned absolute budget: ~200 queries
      .setBatchSize(1.0).setHighDimMode(true).setSeed(123456789L)
      .fit(df)
    val fitSec = (System.nanoTime() - t0) / 1e9
    assert(m.numFeatures == nFeat)
    assert(m.stdSelection.head == planted,
      s"planted 30M-range feature not top-ranked: ${m.stdSelection.mkString(",")}")
    // weights bounded by ACTIVE dims: far below nFeat, and every
    // weighted feature is one that actually appears in the corpus
    assert(m.weightedFeatures.length < 1000000,
      s"weight payload not sparse: ${m.weightedFeatures.length}")
    assert(m.weightedFeatures.forall(fi => fi == planted || fi < nFeat - 1))
    assert(m.weightOf(planted) == 1.0, s"planted weight ${m.weightOf(planted)}")
    // an untouched dim reads the shared absent weight without densifying
    assert(m.weightOf(17) == m.defaultWeight)
    // persistence is sparse too: round-trip at 30M dims in spec time
    val dir = java.nio.file.Files.createTempDirectory("graft_kddb_model").toString
    m.write.overwrite().save(dir)
    val loaded = ReliefFRSelectorModel.load(dir)
    assert(loaded.numFeatures == nFeat &&
      loaded.stdSelection.toSeq == m.stdSelection.toSeq &&
      loaded.weightedFeatures.toSeq == m.weightedFeatures.toSeq)
    info(f"30M-dim fit: $fitSec%.1f s, ${m.weightedFeatures.length} active-dim weights " +
      f"(${100.0 * m.weightedFeatures.length / nFeat}%.3f%% of nFeat)")
    java.nio.file.Files.delete(f)
  }

  test("relief_knn matches a brute-force local computation") {
    val got = ReliefQueries.reliefKnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(x => (x._3, x._2)).map(_._2).toSeq).toMap
    // brute force on the driver
    val all = ReliefQueries.assembled(spark, sfDir)
      .select("vec_id", "features").collect()
      .map(r => (r.getLong(0), r.getAs[Vector](1)))
    val expected = all.filter(_._1 < 5).map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (id, v) => (math.sqrt(Vectors.sqdist(qv, v)), id) }
        .sortBy(identity).take(10).map(_._2).toSeq
    }.toMap
    assert(got == expected)
  }

  /** The per-pair loop the shared kNN kernel replaced, as a reference. */
  private def sqdistHeaps(qs: Seq[(Long, Vector)], rows: Seq[(Long, Vector, Int)],
      nGroups: Int, k: Int): Array[Array[TopK]] = {
    val heaps = Array.fill(nGroups, qs.length)(new TopK(k))
    rows.foreach { case (id, v, g) =>
      qs.indices.foreach { j =>
        if (qs(j)._1 != id) heaps(g)(j).add(math.sqrt(Vectors.sqdist(qs(j)._2, v)), id)
      }
    }
    heaps
  }

  test("feature-major kNN kernel keeps the sqdist loop's heaps bit for bit") {
    val rnd = new scala.util.Random(29)
    val k = 5; val nGroups = 2
    def bits(h: TopK): Seq[(Long, Long)] =
      h.sorted.toSeq.map { case (d, id) => (java.lang.Double.doubleToRawLongBits(d), id) }
    def check(what: String, qs: Seq[(Long, Vector)], rows: Seq[(Long, Vector, Int)],
        featureMajor: Boolean): Unit = {
      val batch = new KnnBatch(qs.map(_._1).toArray, qs.map(_._2).toArray)
      assert(batch.featureMajor == featureMajor, what)
      val knn = batch.scanner(nGroups, k)
      rows.foreach { case (id, v, g) => knn.add(id, v, g) }
      val want = sqdistHeaps(qs, rows, nGroups, k)
      for (g <- 0 until nGroups; j <- qs.indices)
        assert(bits(knn.heaps(g)(j)) == bits(want(g)(j)), s"$what: group $g, query $j")
    }
    for (nq <- Seq(1, 3, 17, 500); d <- Seq(1, 7, 100); levels <- Seq(0, 3)) {
      // levels 0: Gaussian values; 3: values in {0, 1, 2}, so distances tie often
      def value(): Double = if (levels == 0) rnd.nextGaussian() else rnd.nextInt(levels).toDouble
      val base = Seq.tabulate(520)(i => (1000L + i, Vectors.dense(Array.fill(d)(value()))))
      // exact duplicates under smaller ids, shuffled in: tied distances
      // must resolve by id whatever the scan order
      val dups = base.take(60).map { case (id, v) => (id - 1000L, v.copy) }
      val rows = rnd.shuffle(base ++ dups).map { case (id, v) => (id, v, (id % nGroups).toInt) }
      // queries are data rows, so self-exclusion applies to each of them
      val qs = rows.take(nq).map { case (id, v, _) => (id, v) }
      val what = s"nq=$nq d=$d levels=$levels"
      check(what, qs, rows, featureMajor = true)
      if (nq == 17) {
        val sparseRows = rows.zipWithIndex.map { case ((id, v, g), i) =>
          if (i % 3 == 0) (id, Vectors.dense(v.toArray.map(x => if (x > 0.5) x else 0.0)).toSparse, g)
          else (id, v, g)
        }
        check(s"$what, sparse rows", qs, sparseRows, featureMajor = true)
        check(s"$what, a sparse query",
          qs.updated(5, (qs(5)._1, qs(5)._2.toSparse)), rows, featureMajor = false)
      }
    }
  }

  /** 40 rows of width 3 with one dense row (vec_id 17) of width 4. */
  private def widthMismatched(): DataFrame = {
    import spark.implicits._
    (0 until 40).map { i =>
      (i.toLong, (i % 2).toDouble, Vectors.dense(Array.fill(if (i == 17) 4 else 3)(i * 0.5)))
    }.toDF("vec_id", "label", "features")
  }

  private def widthMismatchFit(): ReliefFRSelectorModel = new ReliefFRSelector()
    .setInputCol("features").setLabelCol("label").setOutputCol("out")
    .setInstanceIdCol("vec_id").setNumTopFeatures(2).setNumNeighbors(3)
    .setEstimationRatio(0.5).setBatchSize(1.0).setSeed(8L)
    .fit(widthMismatched())

  test("a dense row of another width fails the fit and relief_knn loudly") {
    def assertWidthError(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("dimensions do not match")), s"not a width error: $e")
    }
    assertWidthError(widthMismatchFit())
    assertWidthError(ReliefQueries.reliefKnnOn(widthMismatched()).collect())
  }

  /** Descriptions of the Spark jobs `body` runs on this thread, in job order. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = "relief-spec-jobs"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        if (ev.properties != null && ev.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(ev.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller")
      body
      // listener events arrive in job order: once the marker job is
      // seen, every job before it is too
      sc.setJobDescription("marker")
      sc.parallelize(1 to 2, 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      seen.toArray(Array.empty[String]).toSeq.takeWhile(_ != "marker")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("fit jobs are described by phase and batch; the caller's description is restored") {
    val sc = spark.sparkContext
    val descs = jobDescriptions {
      fit(syntheticDense()) // 2 batches
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      intercept[Exception](widthMismatchFit())
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    }
    val phases = descs.foldLeft(Seq.empty[String]) { (acc, d) =>
      if (acc.lastOption.contains(d)) acc else acc :+ d
    }
    val fitPhases = Seq("setup", "sample 1/2", "knn 1/2", "weights 1/2",
      "sample 2/2", "knn 2/2", "weights 2/2").map("graft relief: " + _)
    // the failing fit stops in its first kNN job (one batch)
    val failedPhases = Seq("setup", "sample 1/1", "knn 1/1").map("graft relief: " + _)
    assert(phases == fitPhases ++ failedPhases, s"job descriptions: $descs")
    // each fit's setup phase is one job
    assert(descs.count(_ == "graft relief: setup") == 2, s"job descriptions: $descs")
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** What perfbench's persistence gate compares, plus the raw weight bits. */
  private def modelFields(m: ReliefFRSelectorModel): Seq[Any] =
    Seq(m.uid, m.stdSelection.toSeq, m.redundancySelection.toSeq, m.numFeatures,
      bits(m.defaultWeight), m.weightedFeatures.toSeq, m.weightedValues.toSeq.map(bits),
      m.getOrDefault(m.inputCol), m.getOrDefault(m.outputCol), m.getOrDefault(m.labelCol),
      m.getOrDefault(m.redundancyRemoval))

  test("save and load of a model and an estimator run no Spark job and keep every weight's bits") {
    val m = fit(syntheticDense(), red = true)
    // doubles a decimal rendering could lose: -0.0, a NaN payload,
    // a subnormal, an infinity, and a value with a 17-digit shortest form
    val odd = new ReliefFRSelectorModel("reliefFR_odd", Array(2, 0), Array(0, 2), 5,
      -0.0, Array(0, 1, 2, 3, 4), Array(java.lang.Double.longBitsToDouble(0x7ff8dead0000beefL),
        Double.MinPositiveValue, Double.NegativeInfinity, 0.1 + 0.2, Double.MaxValue))
      .setOutputCol("o")
    val est = new ReliefFRSelector().setNumTopFeatures(7).setEstimationRatio(0.3).setSeed(-5L)
    val dir = java.nio.file.Files.createTempDirectory("graft_relief_persist").toString
    var loaded = Seq.empty[ReliefFRSelectorModel]
    var estLoaded: ReliefFRSelector = null
    val jobs = jobDescriptions {
      for (_ <- 1 to 2) { // the second save overwrites the first
        m.write.overwrite().save(s"$dir/model")
        odd.write.overwrite().save(s"$dir/odd")
        est.write.overwrite().save(s"$dir/est")
      }
      loaded = Seq(ReliefFRSelectorModel.load(s"$dir/model"), ReliefFRSelectorModel.load(s"$dir/odd"))
      estLoaded = ReliefFRSelector.load(s"$dir/est")
    }
    assert(jobs.isEmpty, s"save/load ran Spark jobs: $jobs")
    // defaultWeight and every weightedValues entry compare as raw bits
    assert(loaded.map(modelFields) == Seq(m, odd).map(modelFields))
    assert(estLoaded.uid == est.uid)
    assert(estLoaded.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap ==
      est.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap)
    // an estimator's save is not a model
    val e = intercept[IllegalArgumentException](ReliefFRSelectorModel.load(s"$dir/est"))
    assert(e.getMessage.contains("ReliefFRSelector,"), e.getMessage)
    FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a model and an estimator saved in the older parquet layout still load, bit for bit") {
    def fixture(name: String): String =
      new java.io.File(getClass.getResource(s"/graft/ml/legacy_parquet/$name").toURI).getPath
    // saved before the single-file layout, from 120 seeded 3-class rows
    // of 6 features; the expected values were printed when it was saved
    val m = ReliefFRSelectorModel.load(fixture("model"))
    assert(modelFields(m) == Seq("reliefFR_legacyfixture", Seq(0, 1, 3), Seq(0, 1, 3), 6,
      0x3f69f424412404d3L, Seq(0, 1, 2, 3, 4, 5),
      Seq(0x3ff0000000000000L, 0x3fed32ba19e25eaaL, 0x3f918e0f9d5c1039L,
        0x3fad21b8595d95a7L, 0x0000000000000000L, 0x3f8a638c72e9b467L),
      "features", "picked", "label", true))
    assert(m.getOrDefault(m.numNeighbors) == 4 && m.getOrDefault(m.seed) == 42L)
    val e = ReliefFRSelector.load(fixture("estimator"))
    assert(e.uid == "reliefFR_legacyestimator")
    assert(e.getOrDefault(e.numTopFeatures) == 7 && e.getOrDefault(e.estimationRatio) == 0.3 &&
      e.getOrDefault(e.seed) == -5L && e.getOrDefault(e.inputCol) == "vec" &&
      e.getOrDefault(e.discreteData))
    // re-saved, it is in the new layout and still bit-identical
    val dir = java.nio.file.Files.createTempDirectory("graft_relief_legacy").toString
    m.write.overwrite().save(dir)
    assert(new java.io.File(dir, "graft_model.json").isFile)
    assert(modelFields(ReliefFRSelectorModel.load(dir)) == modelFields(m))
    // a path with neither layout fails, naming the path
    val empty = java.nio.file.Files.createTempDirectory("graft_relief_empty").toString
    val err = intercept[java.io.FileNotFoundException](ReliefFRSelector.load(empty))
    assert(err.getMessage.contains(empty), err.getMessage)
    Seq(dir, empty).foreach(d => FileUtils.deleteDirectory(new java.io.File(d)))
  }
}
