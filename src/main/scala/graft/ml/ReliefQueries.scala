package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Checkpoints.CutOps

/** Driver-contract glue for the ML surface (SURVEY.md §2a): each
  * reference capability exposed as a `(SparkSession, sfDir) => DataFrame`
  * over the `embeddings` table (label + 64-dim float vector — the same
  * DataFrame[label, features] shape the reference consumes).
  */
object ReliefQueries {

  /** embeddings → (vec_id, label: double, features: Vector). */
  def assembled(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      col("label").cast("double").as("label"),
      array_to_vector(col("embedding")).as("features"))

  private def fitSelector(spark: SparkSession, dir: String,
      redundancy: Boolean, contentIdentity: Boolean = false): ReliefFRSelectorModel =
    fitSelectorOn(spark, assembled(spark, dir), redundancy, contentIdentity)

  /** The shared fit with the instance frame pluggable — [[fitSelector]]
    * feeds it the raw corpus, [[i04EditedRelief]] the ENN-edited one;
    * params/seed/identity are identical so the two fits differ ONLY
    * through the instance set.
    */
  private def fitSelectorOn(spark: SparkSession, data: DataFrame,
      redundancy: Boolean, contentIdentity: Boolean = false): ReliefFRSelectorModel = {
    val sel = new ReliefFRSelector()
      .setInputCol("features").setLabelCol("label").setOutputCol("selected")
      .setNumTopFeatures(10).setNumNeighbors(3)
      .setEstimationRatio(0.25).setBatchSize(0.5)
      .setRedundancyRemoval(redundancy).setSeed(20260812L)
    // default: vec_id row identity, so the driver oracle can RECOMPUTE
    // the whole fit in DuckDB (sampling, batching and collision hashes
    // key off small longs an external engine can reproduce); the
    // content-hash path keeps its own frozen-pin query below
    if (!contentIdentity) sel.setInstanceIdCol("vec_id")
    // estimationRatio grows the query set WITH the corpus, making the
    // kNN pass quadratic in corpus size at a fixed ratio; this conf
    // pins an ABSOLUTE query budget instead (ratio = budget/n) — the
    // linear-in-corpus production posture. Affects weights only
    // through which queries are sampled, so it's a bench/scale knob,
    // not a correctness one (leave unset for oracle runs).
    spark.conf.getOption("spark.graft.relief.queryBudget").foreach { v =>
      val n = data.count()
      if (n > 0) sel.setEstimationRatio(math.min(1.0, v.toDouble / n))
    }
    sel.fit(data)
  }

  /** relief_weights: normalized RELIEF-F relevance per feature,
    * rounded to 6 decimals — the oracle recomputes the same weights
    * independently in DuckDB, and the two engines' per-pair |q−n|
    * sums differ in the last ulps (different summation order), which
    * the rounding absorbs.
    */
  def reliefWeights(spark: SparkSession, dir: String): DataFrame = {
    val m = fitSelector(spark, dir, redundancy = false)
    import spark.implicits._
    m.featureWeights.zipWithIndex
      .map { case (w, f) => (f, w) }.toSeq.toDF("feature", "weight")
      .select(col("feature"), round(col("weight"), 6).as("weight"))
  }

  /** relief_weights_content: the same fit under CONTENT-HASH identity
    * (no instanceIdCol — the zero-wiring production default, invariant
    * under layout AND under any id renumbering). Since round 9 this is
    * FULLY recomputed by the oracle too: the IEEE-754 bit patterns the
    * hash folds over are extracted exactly in SQL
    * ([[graft.ml.ReliefOracle.weightsContentSql]] — corrected
    * floor(log2) exponent + exact power-of-two mantissa scaling, then
    * the same HUGEINT splitmix64 emulation the vec_id path uses), so
    * the last frozen-VALUES pin in the correctness matrix is gone.
    * 6-decimal rounding absorbs cross-engine summation-order ulps,
    * exactly as relief_weights does.
    */
  def reliefWeightsContent(spark: SparkSession, dir: String): DataFrame = {
    val m = fitSelector(spark, dir, redundancy = false, contentIdentity = true)
    import spark.implicits._
    m.featureWeights.zipWithIndex
      .map { case (w, f) => (f, w) }.toSeq.toDF("feature", "weight")
      .select(col("feature"), round(col("weight"), 6).as("weight"))
  }

  /** i04: the composed instance-selection → RELIEF pipeline — the
    * workflow the reference author's ISAlgorithms companion framework
    * runs (noise-filter the instances FIRST, then weight features):
    * i01's ENN flags ([[graft.sim.Sim.i01EnnFilter]] — plurality label
    * of the k=3 capped-LSH neighbors strictly outvoting the own label)
    * are removed by anti-join, and the SAME fit as relief_weights
    * (params, seed, vec_id identity — [[fitSelectorOn]]) runs on the
    * edited corpus. Output: (feature, weight round 6), directly
    * comparable row-for-row against relief_weights — the delta IS the
    * editing's effect. On a noise-planted corpus the edited fit
    * provably recovers structure the raw fit loses
    * (ReferenceDataSpec's XOR100-with-noise test).
    *
    * Scale shape: i01's shape (capped-bucket kNN, id-only shuffles) +
    * one anti-join on vec_id + the relief fit's linear-in-queries
    * pass; the composition adds no new pair surface.
    */
  def i04EditedRelief(spark: SparkSession, dir: String): DataFrame = {
    val flagged = graft.sim.Sim.i01EnnFilter(spark, dir).select("vec_id")
    val edited = assembled(spark, dir).join(flagged, Seq("vec_id"), "left_anti")
    import spark.implicits._
    // an aggressive editing pass can legitimately remove EVERY
    // instance (and an empty partition upstream removes them all for
    // free) — the composed operator returns the empty weight frame the
    // oracle also produces, instead of surfacing the estimator's
    // non-empty requirement; the emptiness probe is a LIMIT-1 scan of
    // the already-planned anti-join, so the non-empty path pays one
    // cheap extra job rather than depending on the estimator's
    // require() message text
    if (edited.isEmpty) {
      Seq.empty[(Int, Double)].toDF("feature", "weight")
    } else {
      val m = fitSelectorOn(spark, edited, redundancy = false)
      m.featureWeights.zipWithIndex
        .map { case (w, f) => (f, w) }.toSeq.toDF("feature", "weight")
        .select(col("feature"), round(col("weight"), 6).as("weight"))
    }
  }

  /** relief_select: both rankings side by side (rank → feature). */
  def reliefSelect(spark: SparkSession, dir: String): DataFrame = {
    val m = fitSelector(spark, dir, redundancy = true)
    import spark.implicits._
    m.stdSelection.zip(m.redundancySelection).zipWithIndex
      .map { case ((std, red), r) => (r + 1, std, red) }.toSeq
      .toDF("rank", "std_feature", "redundancy_feature")
  }

  /** relief_transform: vectors compressed to the selected indices. */
  def reliefTransform(spark: SparkSession, dir: String): DataFrame = {
    val m = fitSelector(spark, dir, redundancy = false)
    m.transform(assembled(spark, dir))
      .select(col("vec_id"), vector_to_array(col("selected")).as("selected"))
      .select(col("vec_id"), expr("size(selected)").as("n_selected"),
        expr("round(aggregate(selected, 0D, (a, x) -> a + x), 6)").as("sum_selected"))
  }

  /** relief_persist: fit → save → load → selections from the loaded model. */
  def reliefPersist(spark: SparkSession, dir: String): DataFrame = {
    val m = fitSelector(spark, dir, redundancy = true)
    val path = s"/tmp/graft_relief_model_${m.uid.replaceAll("[^A-Za-z0-9_]", "")}"
    m.write.overwrite().save(path)
    val loaded = ReliefFRSelectorModel.load(path)
    import spark.implicits._
    loaded.stdSelection.zip(loaded.redundancySelection).zipWithIndex
      .map { case ((std, red), r) => (r + 1, std, red) }.toSeq
      .toDF("rank", "std_feature", "redundancy_feature")
  }

  /** relief_knn: the distributed kNN pass exposed directly — queries are
    * vec_id < 5, k = 10, euclidean. Oracle-checked against DuckDB.
    */
  def reliefKnn(spark: SparkSession, dir: String): DataFrame =
    reliefKnnOn(assembled(spark, dir))

  /** [[reliefKnn]] over any (vec_id, features) frame. */
  private[ml] def reliefKnnOn(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val data = df.select("vec_id", "features").rdd
      .map { case Row(id: Long, v: Vector) => (id, v) }
    val queries: Array[(Long, Vector)] = data.filter(_._1 < 5).collect().sortBy(_._1)
    val bQ = spark.sparkContext.broadcast(new KnnBatch(queries.map(_._1), queries.map(_._2)))
    val k = 10
    val topk = data.mapPartitions { it =>
      val knn = bQ.value.scanner(1, k)
      it.foreach { case (id, v) => knn.add(id, v, 0) }
      Iterator.tabulate(bQ.value.size)(j => (j, knn.heaps(0)(j)))
    }.reduceByKey(_.merge(_)).collect()
    import spark.implicits._
    topk.flatMap { case (qIdx, heap) =>
      heap.sorted.map { case (d, id) => (queries(qIdx)._1, id, d) }
    }.toSeq.toDF("query_id", "neighbor_id", "dist")
  }

  /** f01: chi-squared feature selection — the classic filter-method
    * companion to the reference's RELIEF-F (the other standard
    * univariate selector a feature-selection library ships; cf. Spark
    * MLlib's ChiSqSelector and the reference's redundancy-removal
    * discussion at ReliefFRSelector.scala:60-75): each embedding
    * dimension is binarized by sign, the 2×|labels| contingency table
    * is counted exactly, and χ² = Σ (n−e)²/e ranks the dimensions.
    *
    * Scale shape: ONE pass — the posexplode shuffles (dim, sign,
    * label) count partials that map-side-combine to ≤ dims·2·|labels|
    * rows (1 280 here) no matter the corpus size; the table densifies
    * against the observed (dim × sign × label) grid so absent cells
    * contribute their expected count (dropping them would bias χ²
    * down); every margin is a window over the tiny cell frame and the
    * final rank orders 64 rows. Counts are exact integers; the only
    * doubles are the (n−e)²/e terms, each computed from integer
    * margins the same way in both engines.
    */
  def f01Chi2Select(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    chi2Frame(spark, dir)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("chi2").desc, col("dim"))).cast("long"))
      .where(col("rnk") <= 10)
  }

  /** The per-dimension χ² frame (dim, chi2) — f01's kernel, shared
    * with the f04 mRMR relevance term.
    */
  private[graft] def chi2Frame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        (col("x") > 0.0f).cast("long").as("s"), col("label"))
      .groupBy("dim", "s", "label").agg(count(lit(1)).as("n"))
    // densify: the observed dims × both signs × observed labels
    val dims = cells.select("dim").distinct()
    val signs = cells.sparkSession.range(2).select(col("id").as("s"))
    val labels = cells.select("label").distinct()
    val dense = dims.crossJoin(signs).crossJoin(labels)
      .join(cells, Seq("dim", "s", "label"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val withTot = dense
      .withColumn("row_tot", sum("n").over(Window.partitionBy("dim", "s")))
      .withColumn("col_tot", sum("n").over(Window.partitionBy("dim", "label")))
      .withColumn("tot", sum("n").over(Window.partitionBy("dim")))
    val e = col("row_tot") * col("col_tot") / col("tot")
    withTot
      .withColumn("term",
        when(e > 0.0, (col("n") - e) * (col("n") - e) / e).otherwise(lit(0.0)))
      .groupBy("dim").agg(sum("term").as("chi2"))
  }

  /** f02: variance-threshold feature selection (Spark MLlib's
    * VarianceThresholdSelector / sklearn's VarianceThreshold — the
    * cheapest selector a feature-selection library ships, and the
    * standard pre-filter BEFORE an expensive RELIEF/χ² pass: a
    * near-constant dimension carries no signal at any label). Each
    * dimension's population variance comes from one (Σx, Σx², n)
    * moment aggregate; the top-10 highest-variance dims rank with ties
    * to the smaller dim.
    *
    * Scale shape: ONE pass, ONE aggregation — posexplode shuffles
    * per-dim moment partials that map-side-combine to 64 rows
    * regardless of corpus size (no second pass for the mean: the
    * Σx²/n − (Σx/n)² identity), and the rank window orders 64 rows.
    */
  def f02VarianceSelect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"))
    m.withColumn("variance",
        (col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("variance").desc, col("dim"))).cast("long"))
      .where(col("rnk") <= 10)
      .select("dim", "variance", "rnk")
  }

  /** f03: top correlated feature pairs — the redundancy DIAGNOSTIC
    * behind the reference's `redundancyRemoval` flag (two features the
    * selector both ranks high may carry the same signal; the report a
    * user inspects before pruning): Pearson correlation for every
    * dimension pair from one Gramian pass, top-10 pairs by |corr|.
    *
    * Scale shape: the textbook distributed GRAMIAN — each partition
    * accumulates the full (n, Σx[64], Σx·xᵀ upper triangle) moment
    * block in a dense local array (one row of ~2 145 doubles PER
    * PARTITION, independent of row count), blocks sum elementwise in
    * one tiny reduce, and the 2 080 correlations + rank are driver
    * arithmetic on a constant-size matrix (the e07 codebook-fit
    * precedent). Nothing row-wise ever shuffles: a 10¹¹-row corpus
    * moves `partitions × 17 KB` over the network, total.
    */
  def f03TopCorrelations(spark: SparkSession, dir: String): DataFrame = {
    val rows = corrPairs(spark, dir)
      .sortBy { case (i, j, c) => (-math.abs(c), i, j) }
      .take(10).zipWithIndex
      .map { case ((i, j, c), r) => (i, j, c, r + 1L) }
    if (rows.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("dim_i", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dim_j", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("corr", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("rnk", org.apache.spark.sql.types.LongType))))
    else
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1))
        .toDF("dim_i", "dim_j", "corr", "rnk")
  }

  /** All 2 080 pairwise Pearson correlations via the distributed
    * Gramian — f03's kernel, shared with the f04 mRMR redundancy term.
    * Empty corpus → empty seq.
    */
  private[graft] def corrPairs(
      spark: SparkSession, dir: String): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    val D = 64
    val nPairs = D * (D - 1) / 2
    val blocks = Tables.embeddings(spark, dir)
      .select(col("embedding").cast("array<double>").as("v")).as[Seq[Double]]
      .mapPartitions { it =>
        // block layout: [n, sx(64), sxx(64), sxy(2080 upper-triangle)]
        val acc = new Array[Double](1 + D + D + nPairs)
        it.foreach { v =>
          acc(0) += 1.0
          var i = 0
          var p = 0
          while (i < D) {
            val xi = v(i)
            acc(1 + i) += xi
            acc(1 + D + i) += xi * xi
            var j = i + 1
            while (j < D) {
              acc(1 + 2 * D + p) += xi * v(j)
              j += 1; p += 1
            }
            i += 1
          }
        }
        Iterator.single(acc)
      }
    // rdd.fold (not Dataset.reduce): distributed tree-combine that is
    // total on an EMPTY corpus — an empty shard folds to the zero block
    val total = blocks.rdd.fold(new Array[Double](1 + D + D + nPairs)) { (a, b) =>
      val out = new Array[Double](a.length)
      var i = 0
      while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
      out
    }
    val n = total(0)
    if (n == 0.0) return Seq.empty
    (for {
      i <- 0 until D
      j <- (i + 1) until D
    } yield {
      val p = (i * (2 * D - i - 1)) / 2 + (j - i - 1)
      val sx = total(1 + i); val sy = total(1 + j)
      val sxx = total(1 + D + i); val syy = total(1 + D + j)
      val sxy = total(1 + 2 * D + p)
      val den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
      val corr = if (den > 0) (n * sxy - sx * sy) / den else 0.0
      (i.toLong, j.toLong, corr)
    }).toSeq
  }

  /** f04: greedy mRMR selection — max-Relevance-min-Redundancy (Peng
    * et al. 2005), the principled version of the reference's
    * `redundancyRemoval` flag (ReliefFRSelector's greedy
    * relevance-vs-redundancy loop, re-based on the f01/f03 kernels):
    * pick 1 = the highest-χ² dimension; each further pick maximizes
    * χ²(f) − mean |corr(f, s)| over the already-selected set s ∈ S.
    * A top-χ² dimension that duplicates an earlier pick's signal is
    * passed over for a slightly-less-relevant but INDEPENDENT one —
    * the whole point of redundancy-aware selection.
    *
    * Scale shape: both kernels are the already-scale-safe aggregates
    * (f01's constant cell frame, f03's Gramian blocks); the greedy
    * loop itself is driver arithmetic over 64 scores × 5 steps — the
    * e13 unrolled-stages precedent, constant work at any corpus size.
    */
  def f04MrmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val chi = chi2Frame(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val corr = corrPairs(spark, dir)
      .flatMap { case (i, j, c) => Seq((i, j) -> c, (j, i) -> c) }.toMap
    val dims = chi.keys.toSeq.sorted
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val selected = scala.collection.mutable.ArrayBuffer[Long]()
    // an empty corpus yields zero candidate dims (and a tiny one fewer
    // than 5): the greedy loop stops when no candidate remains instead
    // of minBy-ing an empty list — zero picks is the empty-input answer
    for (step <- 1 to math.min(5, dims.length)) {
      val best = dims.filterNot(selected.contains).map { d =>
        val red =
          if (selected.isEmpty) 0.0
          else selected.map(s => math.abs(corr((d, s)))).sum / selected.length
        (d, chi(d) - red)
      }.minBy { case (d, score) => (-score, d) }
      picks += ((step.toLong, best._1, best._2))
      selected += best._1
    }
    spark.createDataFrame(spark.sparkContext.parallelize(picks.toSeq, 1))
      .toDF("step", "dim", "score")
  }

  /** f05: per-FEATURE distribution drift — e18's generation check at
    * feature granularity (the monitoring column of a feature store:
    * which input features shifted between snapshots, not just whether
    * the centroid moved): each dimension histograms both parity halves
    * into 8 equi-width buckets on the OLD half's bounds (out-of-range
    * new values clamp to the edge buckets — appearing mass at the
    * edges IS drift signal), and the drift score is the cross-
    * multiplied L1 distance Σ_b |n_old·N_new − n_new·N_old| — exact
    * integer arithmetic end to end (values quantized to milli units
    * first), so the ranking reproduces bit-for-bit cross-engine, with
    * none of PSI's log() libm hazard. Top-10 drifting dims.
    *
    * Scale shape: one posexplode pass; per-(dim, half, bucket) counts
    * map-side-combine to ≤ dims·2·8 rows; bounds are a per-dim
    * aggregate over the same constant frame; the rank orders 64 rows.
    */
  def f05HistogramDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.embeddings(spark, dir)
      .select((col("vec_id") % 2 === 1).cast("long").as("is_new"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("is_new"), col("dim").cast("long").as("dim"),
        // float → double is exact; the ×1000 then happens in double on
        // both engines, so the rounded milli-units agree bit-for-bit
        expr("cast(round(cast(x as double) * 1000) as bigint)").as("xm"))
    val bounds = vals.where(col("is_new") === 0)
      .groupBy("dim").agg(min("xm").as("lo"), max("xm").as("hi"))
    val bucketed = vals.join(bounds, Seq("dim"))
      .withColumn("bucket",
        greatest(lit(0L), least(lit(7L),
          expr("(xm - lo) * 8 div (hi - lo + 1)"))))
      .groupBy("dim", "is_new", "bucket").agg(count(lit(1)).as("n"))
    val tot = bucketed.groupBy("dim", "is_new").agg(sum("n").as("tn"))
    val old = bucketed.where(col("is_new") === 0)
      .select(col("dim"), col("bucket"), col("n").as("n_old"))
    val neu = bucketed.where(col("is_new") === 1)
      .select(col("dim"), col("bucket"), col("n").as("n_new"))
    val totO = tot.where(col("is_new") === 0).select(col("dim"), col("tn").as("t_old"))
    val totN = tot.where(col("is_new") === 1).select(col("dim"), col("tn").as("t_new"))
    val drift = old.join(neu, Seq("dim", "bucket"), "full_outer")
      .withColumn("n_old", coalesce(col("n_old"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .join(totO, Seq("dim")).join(totN, Seq("dim"))
      .groupBy("dim")
      .agg(sum(abs(col("n_old") * col("t_new") - col("n_new") * col("t_old")))
        .as("drift_l1"))
    drift.withColumn("rnk", row_number()
        .over(Window.orderBy(col("drift_l1").desc, col("dim"))).cast("long"))
      .where(col("rnk") <= 10)
  }

  /** vector_assemble: the reference's CSV→VectorAssembler input path
    * (reference TestHelper.scala), over the orders table's numerics.
    */
  def vectorAssemble(spark: SparkSession, dir: String): DataFrame = {
    val assembler = new VectorAssembler()
      .setInputCols(Array("o_totalprice", "o_custkey"))
      .setOutputCol("features")
    assembler.transform(
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_custkey").cast("double").as("o_custkey")))
      .select(col("o_orderkey"), vector_to_array(col("features")).as("features"))
      .select(col("o_orderkey"), expr("size(features)").as("dim"),
        expr("features[0]").as("f0"))
  }

  /** vector_assemble_nominal: categorical-column ingestion — the
    * reference's nominal-CSV path (TestHelper.scala:106-113
    * string-indexes string columns with StringIndexer before
    * VectorAssembler; kddcup/covtype ship with nominal columns). Each
    * nominal column maps to its StringIndexer index (frequencyDesc
    * order: most frequent value → 0, frequency ties broken
    * alphabetically — Spark's documented default) and assembles with
    * the numeric columns; the oracle recomputes the same indices as a
    * rank over (count DESC, value ASC). The kddcup fixture itself is
    * exercised end-to-end (index → assemble → fit) in
    * ReferenceDataSpec.
    *
    * Scale shape: StringIndexer's fit is one count-distinct aggregate
    * per nominal column (tiny result — the dictionary); transform is a
    * broadcast-map lookup. No shuffle of the data itself.
    */
  def vectorAssembleNominal(spark: SparkSession, dir: String): DataFrame = {
    val df = assembleNominal(
      Tables.orders(spark, dir),
      numericCols = Array("o_totalprice"),
      nominalCols = Array("o_orderstatus", "o_orderpriority"))
    df.select(col("o_orderkey"), vector_to_array(col("features")).as("f"))
      .select(col("o_orderkey"), expr("size(f)").as("dim"),
        expr("f[0]").as("f0"), expr("f[1]").as("f1"), expr("f[2]").as("f2"))
  }

  /** f06: ANOVA F-statistic feature selection (sklearn's `f_classif` —
    * the third classic univariate filter alongside χ² (f01) and
    * variance (f02)): per dimension, the ratio of between-class to
    * within-class variance across the label groups,
    * F = (SSB/(k−1)) / (SSW/(N−k)) with SSB = Σ_g s_g²/n_g − S²/N and
    * SSW = Σ_g (q_g − s_g²/n_g) from per-(dim, class) moment sums
    * (n, Σx, Σx²). Top-10 dimensions by F.
    *
    * Scale shape: ONE posexplode pass; (dim, label) moments map-side-
    * combine to ≤ 64·|classes| rows at any corpus size; the F ratio
    * and rank are arithmetic over that constant frame. Identical
    * moment identities on the oracle side.
    */
  def f06AnovaF(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("lbl"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("lbl"), col("dim").cast("long").as("dim"),
        col("x").cast("double").as("x"))
      .groupBy("dim", "lbl")
      .agg(count(lit(1)).cast("double").as("n"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"))
    g.groupBy("dim")
      .agg(count(lit(1)).cast("double").as("k"),
        sum("n").as("nn"), sum("sx").as("s"),
        sum(col("sx") * col("sx") / col("n")).as("sb"),
        sum(col("sxx")).as("q"))
      .withColumn("ssb", col("sb") - col("s") * col("s") / col("nn"))
      .withColumn("ssw", col("q") - col("sb"))
      .withColumn("f_stat",
        (col("ssb") / (col("k") - 1)) / (col("ssw") / (col("nn") - col("k"))))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("f_stat").desc, col("dim"))).cast("long"))
      .where(col("rnk") <= 10)
      .select("dim", "f_stat", "rnk")
  }

  /** f07: information-gain feature selection (the ID3/C4.5 split
    * criterion as a filter method — the fourth classic univariate
    * selector): dimensions binarize by sign (the f01 convention),
    * IG(dim) = H(Y) − H(Y | bit) from exact integer counts,
    * entropies in log2. Absent (bit, label) cells contribute 0
    * (0·log 0 = 0), so no grid densification is needed — the opposite
    * of f01's χ², where absent cells carry expected mass.
    *
    * Scale shape: ONE posexplode pass; (dim, bit, label) counts
    * map-side-combine to ≤ 64·2·|classes| rows; margins are windows
    * over that constant frame; the rank orders 64 rows.
    */
  def f07InfoGain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("lbl"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("lbl"),
        (col("x") > 0).cast("long").as("bit"))
      .groupBy("dim", "bit", "lbl")
      .agg(count(lit(1)).cast("double").as("nbl"))
    val wDim = Window.partitionBy("dim")
    val wBit = Window.partitionBy("dim", "bit")
    val wLbl = Window.partitionBy("dim", "lbl")
    val terms = cells
      .withColumn("nn", sum("nbl").over(wDim))
      .withColumn("nb", sum("nbl").over(wBit))
      .withColumn("ny", sum("nbl").over(wLbl))
      // H(Y) − H(Y|bit) via the mutual-information identity:
      // IG = Σ_cells p(b,y)·log2(p(b,y) / (p(b)·p(y))) — one SUM over
      // the present cells, absent cells contribute exactly 0
      .withColumn("ig_term",
        (col("nbl") / col("nn")) * (
          log(col("nbl") * col("nn") / (col("nb") * col("ny"))) / log(lit(2.0))))
    terms.groupBy("dim")
      .agg(sum("ig_term").as("info_gain"))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("info_gain").desc, col("dim"))).cast("long"))
      .where(col("rnk") <= 10)
      .select("dim", "info_gain", "rnk")
  }

  /** f09: univariate ROC-AUC ranking (sklearn's `roc_auc_score` as a
    * filter — the RANK-based univariate selector that complements the
    * moment-based f02/f06 and the count-based f01/f07: AUC is invariant
    * to any monotone transform of the feature and reads directly as
    * "how well does this dim alone separate class 0 from the rest").
    * Computed exactly via the Mann-Whitney U identity: per dim, average
    * ranks (rank + (ties−1)/2 — exact halves, no float noise), U₁ =
    * Σranks₁ − n₁(n₁+1)/2, AUC = U₁/(n₁n₀); ranked by |AUC − ½| (both
    * directions of separation matter), top-10, ties on dim.
    *
    * Scale note: the exact rank pass sorts each dim's values (64
    * fixed-width window partitions — q25's exact-diagnostic shape); at
    * 100 TB run [[f09bAucBinned]] instead — the binned twin over
    * histogram-bin counts (cumulative bin counts → tie-corrected
    * Mann-Whitney, ≤ dims·bins rows after the map-side combine) with
    * this operator as its measurement baseline, the q25/q25b twin
    * discipline; Round13Spec pins the twin's tolerance against this
    * exact rank pass.
    */
  def f09AucSelect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .select((col("label").cast("long") === 0L).as("y"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("y"),
        col("x").cast("double").as("x"))
    val byX = Window.partitionBy("dim").orderBy("x")
    val ties = Window.partitionBy("dim", "x")
    val agg = e
      .withColumn("ar", rank().over(byX) + (count(lit(1)).over(ties) - 1) / 2.0)
      .groupBy("dim")
      .agg(sum(when(col("y"), col("ar")).otherwise(0.0)).as("rsum"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n1"),
        count(lit(1)).as("n"))
    agg
      // single-class guard: with n1 = 0 or n0 = 0 the Mann-Whitney
      // denominator is 0 and AUC is undefined (Infinity/NaN would rank
      // nonsensically and diverge between engines) — such dims carry
      // no class signal by definition, so they are dropped, mirrored
      // in the oracle SQL
      .where(col("n1") > 0 && col("n") > col("n1"))
      .withColumn("auc",
        (col("rsum") - col("n1") * (col("n1") + 1) / 2.0)
          / (col("n1") * (col("n") - col("n1"))))
      .withColumn("rnk", row_number().over(
        Window.orderBy(abs(col("auc") - 0.5).desc, col("dim"))).cast("long"))
      .where(col("rnk") <= 10)
      .select("dim", "auc", "rnk")
  }

  /** f09b: binned ROC-AUC ranking — [[f09AucSelect]]'s at-scale twin
    * (the q25/q25b discipline): instead of sorting every value per
    * dimension, each dim's values histogram into 64 equi-width buckets
    * on milli-quantized integers (f05's bit-exact convention: float →
    * double is exact, ×1000 rounds identically on both engines, bucket
    * arithmetic is pure integer), and the AUC comes from the
    * tie-corrected Mann-Whitney identity over bucket counts — every
    * value in a bucket treated as tied, so
    * 2·U₁ = Σ_b n1_b·(2·cum0_{<b} + n0_b) in exact integers and
    * AUC = 2·U₁ / (2·n₁·n₀) is one double division at the end. This is
    * exactly the trapezoid rule over the ROC curve through the 64
    * bucket thresholds. Ranked by |AUC − ½| desc, top-10, ties on dim.
    *
    * Scale shape: two scans (per-dim (min, max) bounds, then bucket
    * counts), each map-side-combining to ≤ 64 dims · 64 buckets rows at
    * ANY corpus size; the cumulative window, AUC and rank run over that
    * constant frame. No per-dim sort of the data — the shape that lets
    * the selector run where f09's exact ranks cannot.
    */
  def f09bAucBinned(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nb = 64L
    val e = Tables.embeddings(spark, dir)
      .select((col("label").cast("long") === 0L).cast("long").as("y"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("y"),
        expr("cast(round(cast(x as double) * 1000) as bigint)").as("xm"))
    val bounds = e.groupBy("dim").agg(min("xm").as("lo"), max("xm").as("hi"))
    val cells = e.join(bounds, Seq("dim"))
      .withColumn("bucket",
        greatest(lit(0L), least(lit(nb - 1),
          expr(s"(xm - lo) * $nb div (hi - lo + 1)"))))
      .groupBy("dim", "bucket")
      .agg(sum(col("y")).as("n1b"), sum(lit(1L) - col("y")).as("n0b"))
    val cum = Window.partitionBy("dim").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = cells
      .withColumn("c0", coalesce(sum("n0b").over(cum), lit(0L)))
      .groupBy("dim")
      .agg(sum(col("n1b") * (lit(2L) * col("c0") + col("n0b"))).as("num2"),
        sum("n1b").as("n1"), sum("n0b").as("n0"))
      // single-class guard (same as f09): n1 = 0 or n0 = 0 makes the
      // division 0/0 — drop the signal-free dims in both engines
      .where(col("n1") > 0 && col("n0") > 0)
      .withColumn("auc", col("num2") / (lit(2.0) * col("n1") * col("n0")))
    agg
      .withColumn("rnk", row_number().over(
        Window.orderBy(abs(col("auc") - 0.5).desc, col("dim"))).cast("long"))
      .where(col("rnk") <= 10)
      .select("dim", "auc", "rnk")
  }

  /** f08: SELECTION STABILITY — the robustness QA run before trusting
    * any filter selector (Nogueira/Kuncheva stability indices): rank
    * features independently on two disjoint deterministic halves of the
    * corpus (vec_id parity — layout-invariant, no RNG) and report, for
    * every panel size k = 1..10, how many features the two half-corpus
    * top-k sets share plus the Jaccard overlap. A selector whose top-k
    * churns between halves is fitting noise, not signal — the curve is
    * what decides whether f02's output is trustworthy at all.
    *
    * Scale shape: two f02 moment passes (each map-side-combines to 64
    * rows regardless of corpus size), a 64-row join, a broadcast of the
    * 10-row k frame — every post-scan frame is constant-size.
    */
  def f08SelectionStability(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def ranked(half: Int, out: String): DataFrame =
      Tables.embeddings(spark, dir)
        .where(col("vec_id") % 2 === half)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("variance",
          (col("sxx") - col("sx") * col("sx") / col("n")) / col("n"))
        .withColumn(out, row_number()
          .over(Window.orderBy(col("variance").desc, col("dim"))).cast("long"))
        .select("dim", out)
    val ks = spark.range(1, 11).select(col("id").as("k"))
    ranked(0, "rnk_a").join(ranked(1, "rnk_b"), "dim")
      .crossJoin(broadcast(ks))
      .groupBy("k")
      .agg(sum(when(col("rnk_a") <= col("k") && col("rnk_b") <= col("k"), 1L)
        .otherwise(0L)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (lit(2.0) * col("k") - col("n_common")))
  }

  /** Per-label binarized contingency blocks — the f10/f11 kernel.
    * Each partition accumulates, PER LABEL, a dense count block
    * `[n, ones(64), ones11(2016 upper-triangle)]` over the bit view
    * `x > 0` (f01/f07's binarization): `ones(i)` counts rows with
    * bit i set, `ones11(p)` rows with bits i AND j both set. Every
    * pairwise and per-dim 2×2(×label) contingency cell derives from
    * these by inclusion–exclusion, exactly — all counts are integers
    * held in doubles (exact to 2⁵³).
    *
    * Scale shape: f03's Gramian discipline on bits — the per-row work
    * is a tight 64×64 bit loop into a label-keyed local block; what
    * shuffles is `|labels| × 16.6 KB` PER PARTITION (independent of
    * row count), reduced key-wise. The dims²·4·|labels| cell table a
    * naive double-explode would shuffle never materializes row-wise.
    */
  private[graft] def bitBlocks(
      spark: SparkSession, dir: String): Map[Long, Array[Double]] = {
    import spark.implicits._
    val D = 64
    val nPairs = D * (D - 1) / 2
    val len = 1 + D + nPairs
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("lbl"),
        col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
        it.foreach { case (lbl, v) =>
          val a = acc.getOrElseUpdate(lbl, new Array[Double](len))
          a(0) += 1.0
          var i = 0; var p = 0
          while (i < D) {
            val bi = v(i) > 0.0
            if (bi) a(1 + i) += 1.0
            var j = i + 1
            while (j < D) {
              if (bi && v(j) > 0.0) a(1 + D + p) += 1.0
              j += 1; p += 1
            }
            i += 1
          }
        }
        acc.iterator
      }
      .rdd.reduceByKey { (a, b) =>
        val out = new Array[Double](a.length)
        var i = 0
        while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
        out
      }
      .collect().toMap
  }

  /** Upper-triangle offset of pair (i, j), i < j, in a 64-dim block. */
  private def pidx(i: Int, j: Int): Int = (i * (2 * 64 - i - 1)) / 2 + (j - i - 1)

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  /** −Σ p·log2 p over the positive entries. */
  private def entropy(ps: Seq[Double]): Double =
    -ps.filter(_ > 0.0).map(p => p * log2(p)).sum

  /** f10: FCBF — Fast Correlation-Based Filter (Yu & Liu, ICML 2003),
    * the symmetric-uncertainty selector the reference's own author
    * ships as a companion Spark package (sramirez/fast-mRMR lineage):
    * rank dims by SU(X;Y) = 2·I(X;Y)/(H(X)+H(Y)) over the bit view,
    * then scan in rank order keeping a dim only if NO already-kept
    * (predominant) dim p has SU(p, X) ≥ SU(X;Y) — an approximate
    * Markov-blanket test that removes redundant features without
    * f04's fixed pick count. First 10 predominant dims, ties on dim.
    *
    * Scale shape: the heavy pass is [[bitBlocks]] (per-partition
    * label-keyed Gramian blocks, `|labels| × 16.6 KB` shuffled per
    * partition, exact integer counts); SU and the rank-order scan are
    * driver arithmetic over 64 + 2 016 precomputed values — the
    * f04/e13 constant-work precedent.
    */
  def f10Fcbf(spark: SparkSession, dir: String): DataFrame = {
    val sel = fcbfSelect(spark, dir).take(10).zipWithIndex
      .map { case ((d, su), r) => (r + 1L, d.toLong, su) }
    if (sel.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("su", org.apache.spark.sql.types.DoubleType))))
    else
      spark.createDataFrame(spark.sparkContext.parallelize(sel.toSeq, 1))
        .toDF("rank", "dim", "su")
  }

  /** FCBF's predominant list (dim, SU_c) in selection order. */
  private def fcbfSelect(
      spark: SparkSession, dir: String): Seq[(Int, Double)] = {
    val blocks = bitBlocks(spark, dir)
    if (blocks.isEmpty) return Seq.empty
    val D = 64
    val labels = blocks.keys.toSeq.sorted
    val n = labels.map(blocks(_)(0)).sum
    val hy = entropy(labels.map(blocks(_)(0) / n))
    // per-dim: ones count per label and total; H(X); I(X;Y); SU_c
    val onesL = Array.tabulate(D)(d => labels.map(l => blocks(l)(1 + d)))
    val ones = Array.tabulate(D)(d => onesL(d).sum)
    val hx = Array.tabulate(D)(d => entropy(Seq(ones(d) / n, (n - ones(d)) / n)))
    def miCells(cells: Seq[(Double, Double, Double)]): Double =
      cells.filter(_._1 > 0.0)
        .map { case (c, ma, mb) => c / n * log2(c * n / (ma * mb)) }.sum
    val sucArr = Array.tabulate(D) { d =>
      val cells = labels.indices.flatMap { li =>
        val nl = blocks(labels(li))(0)
        val o = onesL(d)(li)
        Seq((o, ones(d), nl), (nl - o, n - ones(d), nl))
      }
      val mi = miCells(cells)
      if (hx(d) + hy > 0.0) 2.0 * mi / (hx(d) + hy) else 0.0
    }
    def suPair(i: Int, j: Int): Double = {
      val n11 = labels.map(l => blocks(l)(1 + D + pidx(i, j))).sum
      val n10 = ones(i) - n11
      val n01 = ones(j) - n11
      val n00 = n - ones(i) - ones(j) + n11
      val mi = miCells(Seq(
        (n00, n - ones(i), n - ones(j)), (n01, n - ones(i), ones(j)),
        (n10, ones(i), n - ones(j)), (n11, ones(i), ones(j))))
      if (hx(i) + hx(j) > 0.0) 2.0 * mi / (hx(i) + hx(j)) else 0.0
    }
    val order = (0 until D).sortBy(d => (-sucArr(d), d))
    val kept = scala.collection.mutable.ArrayBuffer[Int]()
    for (d <- order if kept.length < 10)
      if (!kept.exists(p => suPair(math.min(p, d), math.max(p, d)) >= sucArr(d)))
        kept += d
    kept.map(d => (d, sucArr(d))).toSeq
  }

  /** f11: CMIM — Conditional Mutual Information Maximization (Fleuret,
    * JMLR 2004), the information-theoretic greedy that completes the
    * selector family: where f04 penalizes redundancy with a mean
    * correlation and f10 eliminates by pairwise SU, CMIM scores each
    * candidate by its WORST-CASE conditional informativeness
    * min_{s∈S} I(X;Y|s) — a feature whose signal any already-picked
    * feature fully explains scores 0 and is passed over. 10 greedy
    * steps; step 1 maximizes plain I(X;Y); ties to the smaller dim.
    *
    * Scale shape: identical to f10 — ONE [[bitBlocks]] pass (the
    * per-label bit Gramian gives every (X, S, Y) triple cell by
    * inclusion–exclusion), then driver arithmetic: 64 candidates × 10
    * steps over precomputed 64×64 conditional-MI values, constant at
    * any corpus size.
    */
  def f11Cmim(spark: SparkSession, dir: String): DataFrame = {
    val picks = cmimSelect(spark, dir)
      .map { case (t, d, s) => (t.toLong, d.toLong, s) }
    if (picks.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("step", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType))))
    else
      spark.createDataFrame(spark.sparkContext.parallelize(picks.toSeq, 1))
        .toDF("step", "dim", "score")
  }

  /** CMIM's greedy picks (step, dim, score). */
  private def cmimSelect(
      spark: SparkSession, dir: String): Seq[(Int, Int, Double)] = {
    val blocks = bitBlocks(spark, dir)
    if (blocks.isEmpty) return Seq.empty
    val D = 64
    val labels = blocks.keys.toSeq.sorted
    val n = labels.map(blocks(_)(0)).sum
    val onesL = Array.tabulate(D)(d => labels.map(l => blocks(l)(1 + d)))
    val ones = Array.tabulate(D)(d => onesL(d).sum)
    def miCells(cells: Seq[(Double, Double, Double)]): Double =
      cells.filter(_._1 > 0.0)
        .map { case (c, ma, mb) => c / n * log2(c * n / (ma * mb)) }.sum
    val rel = Array.tabulate(D) { d =>
      miCells(labels.indices.flatMap { li =>
        val nl = blocks(labels(li))(0)
        val o = onesL(d)(li)
        Seq((o, ones(d), nl), (nl - o, n - ones(d), nl))
      })
    }
    // I(F;Y|S) = Σ_{bf,bs,y} p(f,s,y)·log2(p(f,s,y)·p(s) / (p(f,s)·p(s,y)))
    def cmi(f: Int, s: Int): Double = {
      val (i, j) = (math.min(f, s), math.max(f, s))
      // n·p(f=1,s=1): pair-ones marginal over labels (note pidx keys
      // on the SORTED pair; ones11 is symmetric in (f, s))
      val n11t = labels.map(l => blocks(l)(1 + D + pidx(i, j))).sum
      var acc = 0.0
      labels.indices.foreach { li =>
        val b = blocks(labels(li))
        val nl = b(0)
        val n11 = b(1 + D + pidx(i, j))
        val o1f = onesL(f)(li); val o1s = onesL(s)(li)
        // triple cells (bf, bs) for this label via inclusion–exclusion
        val cells = Seq(
          (0, 0, nl - o1f - o1s + n11), (0, 1, o1s - n11),
          (1, 0, o1f - n11), (1, 1, n11))
        cells.foreach { case (bf, bs, c) =>
          if (c > 0.0) {
            val ps = if (bs == 1) ones(s) else n - ones(s) // n·p(s)
            val psy = if (bs == 1) o1s else nl - o1s // n·p(s,y)
            val pfs = (bf, bs) match { // n·p(f,s)
              case (1, 1) => n11t
              case (1, 0) => ones(f) - n11t
              case (0, 1) => ones(s) - n11t
              case _      => n - ones(f) - ones(s) + n11t
            }
            acc += c / n * log2(c * ps / (pfs * psy))
          }
        }
      }
      acc
    }
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]()
    val minc = Array.fill(D)(Double.MaxValue)
    val selected = scala.collection.mutable.ArrayBuffer[Int]()
    for (t <- 1 to math.min(10, D)) {
      val cand = (0 until D).filterNot(selected.contains)
      if (cand.nonEmpty) {
        val scored = cand.map { d =>
          val sc = if (selected.isEmpty) rel(d) else minc(d)
          (d, sc)
        }
        val (best, score) = scored.minBy { case (d, sc) => (-sc, d) }
        picks += ((t, best, score))
        selected += best
        cand.filter(_ != best).foreach { d =>
          val v = cmi(d, best)
          if (selected.length == 1) minc(d) = math.min(rel(d), v)
          else minc(d) = math.min(minc(d), v)
        }
      }
    }
    picks.toSeq
  }

  /** f13: JMI — Joint Mutual Information selection (Yang & Moody 1999;
    * Brown et al., JMLR 2012 §5's best-in-class criterion): greedy
    * steps scoring each candidate F by Σ_{S∈selected} I(F,S;Y) — the
    * PAIR's joint information about the label, so a feature that only
    * pays off in combination with an already-picked one (the parity
    * shape univariate filters miss) scores through the interaction
    * term. Step 1 maximizes plain I(F;Y); ties to the smaller dim;
    * 10 steps. Completes the info-theoretic trio: f04 penalizes mean
    * redundancy, f10 eliminates by pairwise dominance, f11 takes the
    * worst-case conditional, f13 SUMS joint informativeness.
    *
    * Scale shape: identical to f10/f11 — ONE [[bitBlocks]] pass
    * (`|labels| × 16.6 KB` shuffled per partition at any corpus
    * size); every (F,S,Y) triple cell is inclusion–exclusion over the
    * blocks; the greedy itself is driver arithmetic on 64×64
    * precomputed pair scores (the f04/e13 constant-work precedent).
    */
  def f13Jmi(spark: SparkSession, dir: String): DataFrame = {
    val picks = jmiSelect(spark, dir)
      .map { case (t, d, s) => (t.toLong, d.toLong, s) }
    if (picks.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("step", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType))))
    else
      spark.createDataFrame(spark.sparkContext.parallelize(picks.toSeq, 1))
        .toDF("step", "dim", "score")
  }

  /** JMI's greedy picks (step, dim, score): score at step 1 is
    * I(F;Y); at step t ≥ 2 it is the running Σ_{S picked so far}
    * I(F,S;Y), accumulated one pair-table lookup per pick.
    */
  private def jmiSelect(
      spark: SparkSession, dir: String): Seq[(Int, Int, Double)] = {
    val blocks = bitBlocks(spark, dir)
    if (blocks.isEmpty) return Seq.empty
    val D = 64
    val labels = blocks.keys.toSeq.sorted
    val n = labels.map(blocks(_)(0)).sum
    val onesL = Array.tabulate(D)(d => labels.map(l => blocks(l)(1 + d)))
    val ones = Array.tabulate(D)(d => onesL(d).sum)
    def miCells(cells: Seq[(Double, Double, Double)]): Double =
      cells.filter(_._1 > 0.0)
        .map { case (c, ma, mb) => c / n * log2(c * n / (ma * mb)) }.sum
    val rel = Array.tabulate(D) { d =>
      miCells(labels.indices.flatMap { li =>
        val nl = blocks(labels(li))(0)
        val o = onesL(d)(li)
        Seq((o, ones(d), nl), (nl - o, n - ones(d), nl))
      })
    }
    // I(F,S;Y) = Σ_{bf,bs,y} p(f,s,y)·log2(p(f,s,y) / (p(f,s)·p(y)))
    def jmi(f: Int, s: Int): Double = {
      val (i, j) = (math.min(f, s), math.max(f, s))
      val n11t = labels.map(l => blocks(l)(1 + D + pidx(i, j))).sum
      var acc = 0.0
      labels.indices.foreach { li =>
        val b = blocks(labels(li))
        val nl = b(0)
        val n11 = b(1 + D + pidx(i, j))
        val o1f = onesL(f)(li); val o1s = onesL(s)(li)
        val cells = Seq(
          (0, 0, nl - o1f - o1s + n11), (0, 1, o1s - n11),
          (1, 0, o1f - n11), (1, 1, n11))
        cells.foreach { case (bf, bs, c) =>
          if (c > 0.0) {
            val pfs = (bf, bs) match { // n·p(f,s), marginal over labels
              case (1, 1) => n11t
              case (1, 0) => ones(f) - n11t
              case (0, 1) => ones(s) - n11t
              case _      => n - ones(f) - ones(s) + n11t
            }
            acc += c / n * log2(c * n / (pfs * nl))
          }
        }
      }
      acc
    }
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]()
    val sums = Array.fill(D)(0.0)
    val selected = scala.collection.mutable.ArrayBuffer[Int]()
    for (t <- 1 to math.min(10, D)) {
      val cand = (0 until D).filterNot(selected.contains)
      if (cand.nonEmpty) {
        val scored = cand.map(d => (d, if (t == 1) rel(d) else sums(d)))
        val (best, score) = scored.minBy { case (d, sc) => (-sc, d) }
        picks += ((t, best, score))
        selected += best
        cand.filter(_ != best).foreach(d => sums(d) += jmi(d, best))
      }
    }
    picks.toSeq
  }

  /** b01: deterministic class rebalancing by random oversampling —
    * the preprocessing step the reference's own data distribution
    * ships pre-applied (`subSetROS_1K` is `subSet_1K` oversampled to
    * class balance; reference src/test/resources/data). Every class
    * is replicated up to the majority count M: each row gets
    * ⌊M/n_c⌋ copies, and the `M − ⌊M/n_c⌋·n_c` remainder rows get one
    * extra — chosen as the smallest rows of the d13 mod-prime
    * permutation u(id) = (id·A mod P) + B (layout-invariant, no RNG
    * state). Output is the per-class AUDIT census: counts before,
    * base replication, extra count, count after (= M for every class
    * — the invariant), and the exact id-sum of the extra-selected
    * rows proving WHICH rows were picked, not just how many.
    *
    * Scale shape: one map-side-combined class census (|classes| rows,
    * broadcast back), then a per-class rank window over (u, id) — the
    * only sort, within-class; a skewed majority class never ranks at
    * all (its remainder is 0 rows wide, and the filter keeps rank ≤
    * r_c so Spark's WindowGroupLimit-style early-out applies when r_c
    * is small). The oversampled FRAME itself is never materialized
    * here — downstream consumers explode by the per-row copy count,
    * so the audit costs one census + one bounded window at any size.
    */
  def b01ClassRebalance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = graft.text.Text.SampleMod
    val A = graft.text.Text.SampleMulA
    val B = graft.text.Text.SampleAddB
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("id"),
        col("label").cast("long").as("lbl"))
    val census = rows.groupBy("lbl").agg(count(lit(1)).as("n_before"))
    val m = census.agg(max("n_before").as("m"))
    val plan = census.crossJoin(broadcast(m))
      .select(col("lbl"), col("n_before"),
        (col("m") / col("n_before")).cast("long").as("rep_base"),
        (col("m") - (col("m") / col("n_before")).cast("long") * col("n_before"))
          .as("n_extra"))
    val u = (col("id") % P) * A % P + B
    val ranked = rows
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lbl")).orderBy(u.asc, col("id").asc)))
    val extraSum = ranked.join(broadcast(plan.select("lbl", "n_extra")), "lbl")
      .where(col("rnk") <= col("n_extra"))
      .groupBy("lbl").agg(sum("id").as("extra_id_sum"))
    plan.join(extraSum, Seq("lbl"), "left")
      .select(col("lbl").as("label"), col("n_before"), col("rep_base"),
        col("n_extra"),
        (col("rep_base") * col("n_before") + col("n_extra")).as("n_after"),
        coalesce(col("extra_id_sum"), lit(0L)).as("extra_id_sum"))
  }

  /** The reference's missing-label sentinel (reference
    * TestHelper.scala:27): null labels become this literal CLASS —
    * the reference keeps dirty rows as their own label through
    * StringIndexer rather than dropping or failing.
    */
  val MissingLabel = "__MISSING_VALUE__"

  /** Null-label ingestion cleaning — the reference's
    * `TestHelper.cleanLabelCol` contract (TestHelper.scala:91-96):
    * null labels → [[MissingLabel]] in `<labelCol>_CLEAN`, then a
    * frequencyDesc StringIndexer writes the numeric class to
    * `<labelCol>_IDX` (most frequent label = 0.0; frequency ties
    * break alphabetically ascending — Spark's documented
    * StringIndexer order). A user feeding CSVs with null labels gets
    * DEFINED behavior: the dirty rows survive the fit as one extra
    * class instead of poisoning it.
    */
  def cleanLabelCol(df: DataFrame, labelCol: String): DataFrame = {
    import org.apache.spark.ml.feature.StringIndexer
    val cleaned = df.withColumn(s"${labelCol}_CLEAN",
      when(col(labelCol).isNull, lit(MissingLabel))
        .otherwise(col(labelCol).cast("string")))
    new StringIndexer()
      .setInputCol(s"${labelCol}_CLEAN").setOutputCol(s"${labelCol}_IDX")
      .setStringOrderType("frequencyDesc")
      .fit(cleaned).transform(cleaned)
  }

  /** Null-numeric cleaning — the reference's
    * `TestHelper.cleanNumericCols` contract (TestHelper.scala:98-104):
    * null numeric cells → Double.NaN, in place (the reference writes a
    * `_CLEAN` copy column; the VALUES are identical — documented
    * divergence, the assembler consumes the cleaned column either
    * way). NaN features survive assembly; like the reference, a fit
    * over rows whose vectors carry NaN is undefined (NaN distances) —
    * the contract is that ingestion never throws and the dirt is
    * VISIBLE (NaN, not silent zero) for an upstream quality gate such
    * as d03/s07 to filter.
    */
  def cleanNumericCols(df: DataFrame, numericCols: Seq[String]): DataFrame =
    numericCols.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c).isNull, lit(Double.NaN))
        .otherwise(col(c).cast("double"))))

  /** b04: the null-label ingestion census — the observable surface of
    * [[cleanLabelCol]] as an operator: labels go dirty on a
    * deterministic subset (vec_id % 17 = 0 → null, standing in for
    * the dirty CSV rows the reference's null-label fixture models),
    * the cleaning + frequencyDesc indexing runs, and the output is
    * one row per CLEANED class: (label_clean, label_idx, n) — the
    * census a user checks before trusting a fit on dirty data (is the
    * MISSING class small? did indexing stay stable?).
    *
    * Scale shape: one map-side-combining census (≤ |labels|+1 rows);
    * StringIndexer's fit is itself one countByValue pass. Nothing
    * here scales with anything but class cardinality.
    */
  def b04NullLabelClean(spark: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        when(col("vec_id") % 17 === 0, lit(null))
          .otherwise(col("label").cast("string")).as("label"))
    cleanLabelCol(dirty, "label")
      .groupBy(col("label_CLEAN").as("label_clean"),
        col("label_IDX").as("label_idx"))
      .agg(count(lit(1)).as("n"))
  }

  /** b03: cost-sensitive class weights — the third imbalance strategy
    * next to b01 (oversample) and b02 (synthesize): reweight instead
    * of resample. Two standard schemes per class, both from the same
    * one-pass census: the inverse-frequency "balanced" heuristic
    * w = n / (k·n_c) (sklearn's class_weight='balanced'), and the
    * effective-number weight of Cui et al., CVPR 2019 —
    * w = (1−β)/(1−β^{n_c}), β = 0.999 — normalized so the k weights
    * sum to k (the paper's convention). Output: (label, n_class,
    * balanced_weight, effnum_weight), round 6.
    *
    * Scale shape: ONE map-side-combining census (|classes| rows);
    * everything after is arithmetic on that bounded frame — the
    * cheapest of the three strategies and the one a loss function
    * consumes directly.
    */
  def b03ClassWeights(spark: SparkSession, dir: String): DataFrame =
    classWeightsFrom(Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"))
      .groupBy("label").agg(count(lit(1)).as("n_class")))

  /** The weight arithmetic over a (label, n_class) census frame —
    * shared by batch b03 and the streaming twin s30 so both paths
    * compute bit-identical doubles.
    */
  private[graft] def classWeightsFrom(censusIn: DataFrame): DataFrame = {
    val census = censusIn.cutLineage
    val tot = census.agg(
      sum("n_class").as("n"), count(lit(1)).cast("long").as("k"))
    val beta = 0.999
    val raw = census.crossJoin(broadcast(tot))
      .select(col("label"), col("n_class"), col("n"), col("k"),
        (col("n").cast("double") / (col("k") * col("n_class")).cast("double"))
          .as("balanced_weight"),
        (lit(1.0 - beta) /
          (lit(1.0) - pow(lit(beta), col("n_class").cast("double"))))
          .as("e_raw"))
    val norm = raw.agg(sum("e_raw").as("es"))
    raw.crossJoin(broadcast(norm))
      .select(col("label"), col("n_class"),
        round(col("balanced_weight"), 6).as("balanced_weight"),
        round(col("e_raw") * col("k").cast("double") / col("es"), 6)
          .as("effnum_weight"))
  }

  /** One MDLP round over pre-counted cells `(dim, seg, xm, lbl, c)`:
    * for every (dim, seg) pick the boundary minimizing the weighted
    * class entropy and decide it by Fayyad & Irani's MDL criterion —
    * gain > (log₂(n−1) + log₂(3^k−2) − (k·H(S) − k₁·H(S₁) −
    * k₂·H(S₂))) / n. Returns one AUDIT row per segment that has ≥ 2
    * distinct values: (dim, seg, n, cut_xm, gain, mdl_thr, accepted)
    * with cut_xm the left edge of the best boundary (ties on gain go
    * to the smaller cut — a total order both engines replay).
    *
    * Scale shape: everything runs over the DENSIFIED count frame —
    * distinct (dim, seg, xm) × labels — which is value-domain-bounded
    * (quantized support × |classes|), never row-count-bounded; the
    * raw-data pass is the caller's single map-side-combining count.
    * Cumulative label mass, entropies, k-counts and the MDL test are
    * windows + one aggregate over that bounded frame (the f05/f09b
    * discipline), so the round costs the same at any corpus size.
    */
  private[graft] def mdlpRound(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the object's log2(Double) shadows functions.log2(Column)
    def lg2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.log2(c)
    val labels = cells.select("lbl").distinct()
    val posns = cells.select("dim", "seg", "xm").distinct()
    val dense = posns.crossJoin(broadcast(labels))
      .join(cells, Seq("dim", "seg", "xm", "lbl"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy("dim", "seg", "lbl").orderBy("xm")
    val wSeg = Window.partitionBy("dim", "seg")
    val wPos = Window.partitionBy("dim", "seg", "xm")
    val g = dense
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("tot", sum("c").over(Window.partitionBy("dim", "seg", "lbl")))
      .withColumn("n", sum("c").over(wSeg))
      .withColumn("xmax", max("xm").over(wSeg))
      .withColumn("r", col("tot") - col("cum"))
      .withColumn("nl", sum("cum").over(wPos))
      .withColumn("nr", col("n") - sum("cum").over(wPos))
    // H(S), k and n per (dim, seg) from the per-label totals
    val hsf = g.select("dim", "seg", "lbl", "tot", "n").distinct()
      .groupBy("dim", "seg")
      .agg(
        sum(when(col("tot") > 0,
          -(col("tot").cast("double") / col("n")) *
            lg2(col("tot").cast("double") / col("n"))).otherwise(0.0)).as("hs"),
        sum(when(col("tot") > 0, 1L).otherwise(0L)).as("k"),
        max("n").as("n"))
    // candidate boundaries: every distinct xm except the segment max
    val cand = g.where(col("xm") < col("xmax"))
      .groupBy("dim", "seg", "xm")
      .agg(
        max("nl").as("nl"), max("nr").as("nr"),
        sum(when(col("cum") > 0,
          -(col("cum").cast("double") / col("nl")) *
            lg2(col("cum").cast("double") / col("nl"))).otherwise(0.0)).as("hl"),
        sum(when(col("r") > 0,
          -(col("r").cast("double") / col("nr")) *
            lg2(col("r").cast("double") / col("nr"))).otherwise(0.0)).as("hr"),
        sum(when(col("cum") > 0, 1L).otherwise(0L)).as("k1"),
        sum(when(col("r") > 0, 1L).otherwise(0L)).as("k2"))
    cand.join(hsf, Seq("dim", "seg"))
      .withColumn("gain", col("hs")
        - (col("nl").cast("double") / col("n")) * col("hl")
        - (col("nr").cast("double") / col("n")) * col("hr"))
      .withColumn("mdl_thr",
        (lg2(col("n").cast("double") - 1)
          + lg2(pow(lit(3.0), col("k")) - 2.0)
          - (col("k") * col("hs") - col("k1") * col("hl")
            - col("k2") * col("hr"))) / col("n"))
      .withColumn("rnk", row_number().over(Window.partitionBy("dim", "seg")
        .orderBy(col("gain").desc, col("xm").asc)))
      .where(col("rnk") === 1)
      .select(col("dim"), col("seg"), col("n"),
        col("xm").as("cut_xm"), col("gain"), col("mdl_thr"),
        (col("gain") > col("mdl_thr")).as("accepted"))
  }

  /** f12: MDLP discretization (Fayyad & Irani 1993) — the entropy
    * binner the reference's author ships as the companion
    * sramirez/spark-MDLP-discretization package: per dimension,
    * recursively cut where class entropy drops most, accepting a cut
    * only when the information gain beats the MDL coding cost of
    * announcing it. Values milli-quantize (f05's bit-exact
    * convention); recursion unrolls two levels (the f10/f11 unrolled
    * precedent) — level 2 runs only inside level-1-ACCEPTED halves.
    * Output is the full audit trail — one row per evaluated segment
    * with its best boundary, gain, MDL threshold and verdict — so the
    * operator is as informative when MDLP (correctly) refuses to cut
    * as when it cuts: on this corpus every univariate gain sits below
    * the MDL bar (consistent with f09's near-½ AUCs — the label
    * signal is multivariate), and the ACCEPTING behavior is pinned in
    * Round13Spec on planted staircase data instead.
    *
    * Scale shape: one map-side-combining count of (dim, xm, lbl) —
    * the only pass over raw rows — then [[mdlpRound]] windows over
    * the value-domain-bounded frame, twice. No per-row sort, no
    * driver loop over data.
    */
  def f12MdlpDiscretize(spark: SparkSession, dir: String): DataFrame = {
    // fan the scan out (the 64-way posexplode + census partials fuse
    // into the single-task scan stage locally; no-op on split-rich
    // inputs) and cut the census ONCE — it feeds both recursion levels
    // and was re-exploding the corpus per level
    val cells = Tables.fanOutScan(Tables.embeddings(spark, dir)
        .select(col("label"), col("embedding")))
      .select(col("label").cast("long").as("lbl"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), lit(0L).as("seg"),
        expr("cast(round(cast(x as double) * 1000) as bigint)").as("xm"),
        col("lbl"))
      .groupBy("dim", "seg", "xm", "lbl")
      .agg(count(lit(1)).as("c"))
      .cutLineageLazy
    val l1 = mdlpRound(cells).cutLineageLazy
    val cuts = l1.where(col("accepted"))
      .select(col("dim"), col("seg").as("pseg"), col("cut_xm").as("cut"))
    val cells2 = cells.withColumnRenamed("seg", "pseg")
      .join(cuts, Seq("dim", "pseg"))
      .withColumn("seg", col("pseg") * 2
        + when(col("xm") > col("cut"), 1L).otherwise(0L))
      .select("dim", "seg", "xm", "lbl", "c")
    val l2 = mdlpRound(cells2)
    l1.withColumn("level", lit(1L)).unionByName(
        l2.withColumn("level", lit(2L)))
      .select("dim", "level", "seg", "n", "cut_xm", "gain", "mdl_thr", "accepted")
  }

  /** StringIndexer-based nominal ingestion: index each nominal column
    * (frequencyDesc), then assemble nominal indices + numeric columns
    * into `features` — the user-side wiring a categorical dataset
    * (kddcup, covtype) needs before [[ReliefFRSelector]].
    */
  def assembleNominal(df: DataFrame, numericCols: Array[String],
      nominalCols: Array[String]): DataFrame = {
    import org.apache.spark.ml.feature.StringIndexer
    var cur = df
    for (c <- nominalCols) {
      cur = new StringIndexer().setInputCol(c).setOutputCol(c + "_idx")
        .setStringOrderType("frequencyDesc").fit(cur).transform(cur)
    }
    new VectorAssembler()
      .setInputCols(nominalCols.map(_ + "_idx") ++ numericCols)
      .setOutputCol("features")
      .transform(cur)
  }

  /** The reference README's PRESCRIBED preprocessing (reference
    * README.md:41-46): "RELIEF computations are required to be
    * normalized … rely on MLLIB standard scaler" for continuous
    * columns, and "one-hot encoder is recommended for nominal
    * features (unordered discrete data)". Nominals string-index
    * (frequencyDesc — the [[assembleNominal]] convention) then
    * one-hot (dropLast, Spark's default); the numerics assemble into
    * one block and standardize to mean 0 / sample-std 1; the feature
    * vector is [one-hot blocks ++ scaled numerics].
    *
    * This is a DIFFERENT geometry than [[assembleNominal]]'s ordinal
    * indices — the README's point: ordinal index distance pretends
    * the categories are ordered (|http−smtp| = 2 means nothing), while
    * one-hot makes every unequal category pair equidistant; scaling
    * stops wide-range numerics from drowning the hit/miss distances.
    * ReferenceDataSpec pins how the kddcup selection moves between
    * the two geometries.
    *
    * Scale shape: each StringIndexer/OneHotEncoder fit is one
    * count-distinct census (dictionary-sized result, broadcast back);
    * the scaler fit is one (mean, M2) moment aggregate per numeric —
    * f02's kernel; transforms are per-row projections. Nothing
    * shuffles the data itself.
    */
  def assembleScaledOneHot(df: DataFrame, numericCols: Array[String],
      nominalCols: Array[String]): DataFrame = {
    import org.apache.spark.ml.feature.{OneHotEncoder, StandardScaler, StringIndexer}
    var cur = df
    for (c <- nominalCols) {
      cur = new StringIndexer().setInputCol(c).setOutputCol(c + "_idx")
        .setStringOrderType("frequencyDesc").fit(cur).transform(cur)
    }
    cur = new OneHotEncoder()
      .setInputCols(nominalCols.map(_ + "_idx"))
      .setOutputCols(nominalCols.map(_ + "_oh"))
      .fit(cur).transform(cur)
    cur = new VectorAssembler().setInputCols(numericCols)
      .setOutputCol("_nums").transform(cur)
    cur = new StandardScaler().setInputCol("_nums").setOutputCol("_nums_scaled")
      .setWithMean(true).setWithStd(true)
      .fit(cur).transform(cur)
    new VectorAssembler()
      .setInputCols(nominalCols.map(_ + "_oh") :+ "_nums_scaled")
      .setOutputCol("features")
      .transform(cur)
  }

  /** vector_assemble_onehot: the README preprocessing path as a
    * driver-contract query — [[assembleScaledOneHot]] over the orders
    * table (one-hot o_orderstatus + o_orderpriority, scaled
    * o_totalprice), reduced to oracle-recomputable per-row facts:
    * vector width, each nominal's hot slot WITHIN its block (−1 when
    * the row carries the dropLast-dropped most-frequent-last
    * category), and the scaled price (round 6 absorbs the
    * sample-std ulps between engines).
    */
  def vectorAssembleOneHot(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    // an empty corpus has no dictionaries to fit (OneHotEncoder
    // requires ≥2 distinct values) — return the empty frame directly
    if (orders.head(1).isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long, Double)]
        .toDF("o_orderkey", "dim", "status_slot", "prio_slot", "scaled_price")
    }
    val df = assembleScaledOneHot(
      orders,
      numericCols = Array("o_totalprice"),
      nominalCols = Array("o_orderstatus", "o_orderpriority"))
    // block widths from the raw dictionary censuses (cheap scans of
    // the source, not of the transformed frame)
    val Row(cs: Long, cp: Long) = orders.agg(
      countDistinct(col("o_orderstatus")),
      countDistinct(col("o_orderpriority"))).head()
    df.select(col("o_orderkey"), vector_to_array(col("features")).as("f"))
      .select(col("o_orderkey"),
        expr("size(f)").cast("long").as("dim"),
        (expr(s"array_position(slice(f, 1, ${cs - 1}), cast(1.0 as double))")
          .cast("long") - 1L).as("status_slot"),
        (expr(s"array_position(slice(f, ${cs}, ${cp - 1}), cast(1.0 as double))")
          .cast("long") - 1L).as("prio_slot"),
        round(expr(s"f[${cs - 1 + cp - 1}]"), 6).as("scaled_price"))
  }

  /** Additive-smoothing strength for f14's target encoding. */
  val TargetEncM = 20.0

  /** f14: smoothed target (mean) encoding — the standard high-
    * cardinality categorical transform (Micci-Barreca 2001): for each
    * category c of each nominal feature, `enc = (Σ_target + M·prior) /
    * (n_c + M)` with the global target mean as the prior and
    * M = [[TargetEncM]] pseudo-observations — rare categories shrink
    * to the prior, frequent ones to their empirical mean. Encodes
    * o_orderpriority AND o_orderstatus against o_totalprice in ONE
    * corpus pass via GROUPING SETS (two censuses share the scan and
    * the map-side combine). Output: (feature, category, n,
    * target_enc rounded 6) — the encoding TABLE a pipeline
    * broadcast-joins onto the corpus, never a per-row rewrite here.
    *
    * Scale shape: one map-side-combining grouping-sets aggregate over
    * the fact table + a 1-row prior broadcast; output is bounded by
    * total category cardinality.
    *
    * Determinism (r12 close of the last ADVICE low): all sums are
    * EXACT milli-integers (the q43/q44 discipline — `round(price ·
    * 1000)` cast to long, summed losslessly), so the doubles entering
    * the final smoothing expression are identical cross-engine by
    * construction; partition order cannot move the encoding across a
    * 1e-6 rounding boundary. The smoothing expression itself is the
    * same parenthesization in both engines.
    */
  def f14TargetEncode(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderstatus"),
        round(col("o_totalprice") * 1000).cast("long").as("pm"))
    val prior = o.agg(sum("pm").cast("double").as("tm"),
      count(lit(1)).cast("double").as("nn"))
    o.groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum("pm").as("sm"),
        grouping(col("o_orderpriority")).as("gp"))
      .select(
        when(col("gp") === 0, lit("o_orderpriority"))
          .otherwise(lit("o_orderstatus")).as("feature"),
        coalesce(col("o_orderpriority"), col("o_orderstatus")).as("category"),
        col("n"), col("sm"))
      .crossJoin(broadcast(prior))
      .select(col("feature"), col("category"), col("n"),
        round((col("sm").cast("double") +
            lit(TargetEncM) * (col("tm") / col("nn"))) /
          ((col("n").cast("double") + lit(TargetEncM)) * lit(1000.0)), 6)
          .as("target_enc"))
  }

  /** Price-band width for f15's numeric bucketing. */
  val WoeBand = 50000.0

  /** f15: weight-of-evidence + information value — the classic
    * risk-modeling feature screen (Siddiqi 2006): against the binary
    * label `o_orderstatus = 'F'`, bucket each feature
    * (o_orderpriority's categories; o_totalprice in fixed
    * [[WoeBand]]-wide bands — fixed-width, not quantile, so bucketing
    * needs no global sort), then per bucket
    * `woe = ln(((n_good+0.5)/good_tot) / ((n_bad+0.5)/bad_tot))` and
    * `iv = Σ_buckets (dist_good − dist_bad)·woe` (0.5 = the standard
    * half-observation smoothing against empty cells). Output one row
    * per (feature, bucket): (feature, bucket, n_good, n_bad,
    * woe rounded 6, iv rounded 6 — the feature-level IV repeated per
    * bucket, ready to filter on).
    *
    * Scale shape: one grouping-sets census over the fact table (both
    * features share the scan); totals and IV are windows over the
    * bucket-bounded census frame, never over raw rows.
    */
  def f15WoeIv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir).select(
      col("o_orderpriority"),
      floor(col("o_totalprice") / lit(WoeBand)).cast("long").cast("string")
        .as("price_band"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("bad"))
    val census = o.groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("price_band"))),
        col("o_orderpriority"), col("price_band"))
      .agg(count(lit(1)).as("n"), sum("bad").as("n_bad"),
        grouping(col("o_orderpriority")).as("gp"))
      .select(
        when(col("gp") === 0, lit("o_orderpriority"))
          .otherwise(lit("price_band")).as("feature"),
        coalesce(col("o_orderpriority"), col("price_band")).as("bucket"),
        (col("n") - col("n_bad")).as("n_good"), col("n_bad"))
    val byFeat = Window.partitionBy("feature")
    val scored = census
      .withColumn("good_tot", sum("n_good").over(byFeat).cast("double"))
      .withColumn("bad_tot", sum("n_bad").over(byFeat).cast("double"))
      .withColumn("dg", (col("n_good") + lit(0.5)) / col("good_tot"))
      .withColumn("db", (col("n_bad") + lit(0.5)) / col("bad_tot"))
      .withColumn("woe", log(col("dg") / col("db")))
      .withColumn("iv_term", (col("dg") - col("db")) * col("woe"))
    scored
      .withColumn("iv", sum("iv_term").over(byFeat))
      .select(col("feature"), col("bucket"), col("n_good"), col("n_bad"),
        round(col("woe"), 6).as("woe"), round(col("iv"), 6).as("iv"))
  }

  /** f16: Population Stability Index — the deployment-monitoring
    * drift screen (the credit-scoring standard next to f15's WOE; the
    * same bucket vocabulary): split orders at the EXACT midpoint of
    * the order-date range (integer-µs arithmetic `2·ts ≥ lo+hi`, no
    * percentile and no cross-engine rounding), census each feature's
    * buckets per half in ONE grouping-sets pass, then
    * `psi = Σ (p_new − p_old)·ln(p_new/p_old)` with half-observation
    * smoothing. PSI > 0.25 is the classic retrain trigger. Output one
    * row per (feature, bucket): (feature, bucket, n_old, n_new,
    * psi_contrib, psi — the feature-level PSI repeated per bucket).
    *
    * Scale shape: the min/max date pair is a 1-row broadcast; the
    * census is one grouping-sets aggregate (map-side combined);
    * totals/PSI are windows over the bucket-bounded frame.
    */
  def f16Psi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
    val mm = o.agg(min(unix_micros(col("o_orderdate").cast("timestamp"))).as("lo"),
      max(unix_micros(col("o_orderdate").cast("timestamp"))).as("hi"))
    val tagged = o.crossJoin(broadcast(mm))
      .select(
        col("o_orderpriority"),
        floor(col("o_totalprice") / lit(WoeBand)).cast("long").cast("string")
          .as("price_band"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 2 >= col("lo") + col("hi"))
          .cast("long").as("is_new"))
    val census = tagged.groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("price_band"))),
        col("o_orderpriority"), col("price_band"))
      .agg(sum(lit(1L) - col("is_new")).as("n_old"), sum("is_new").as("n_new"),
        grouping(col("o_orderpriority")).as("gp"))
      .select(
        when(col("gp") === 0, lit("o_orderpriority"))
          .otherwise(lit("price_band")).as("feature"),
        coalesce(col("o_orderpriority"), col("price_band")).as("bucket"),
        col("n_old"), col("n_new"))
    val byFeat = Window.partitionBy("feature")
    census
      .withColumn("old_tot", sum("n_old").over(byFeat).cast("double"))
      .withColumn("new_tot", sum("n_new").over(byFeat).cast("double"))
      .withColumn("po", (col("n_old") + lit(0.5)) / col("old_tot"))
      .withColumn("pn", (col("n_new") + lit(0.5)) / col("new_tot"))
      .withColumn("term", (col("pn") - col("po")) * log(col("pn") / col("po")))
      .withColumn("psi", sum("term").over(byFeat))
      .select(col("feature"), col("bucket"), col("n_old"), col("n_new"),
        round(col("term"), 6).as("psi_contrib"), round(col("psi"), 6).as("psi"))
  }
}
