package graft.ml

import org.apache.hadoop.fs.Path

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Params shared by [[ReliefFRSelector]] and [[ReliefFRSelectorModel]].
  *
  * Same knob surface as the reference estimator
  * (reference ReliefFRSelector.scala:68-166), re-stated here because
  * Spark's shared param traits are private to org.apache.spark.ml.
  */
trait ReliefFRParams extends Params {
  final val inputCol = new Param[String](this, "inputCol", "features vector column")
  setDefault(inputCol -> "features")
  final val outputCol = new Param[String](this, "outputCol", "selected-features vector column")
  setDefault(outputCol -> "selectedFeatures")
  final val labelCol = new Param[String](this, "labelCol", "label column (double)")
  setDefault(labelCol -> "label")
  final val seed = new LongParam(this, "seed", "random seed")
  setDefault(seed -> 123456789L)

  /** Optional user-supplied row-identity column (long). When empty
    * (default), identity is the content hash of (label, vector) —
    * layout-invariant with no user wiring. When set, sampling, batch
    * assignment, neighbor tie-breaks and collision thresholds all key
    * off this column instead: the fit becomes reproducible by an
    * EXTERNAL reimplementation that only knows the ids (the
    * recomputation oracle path), and exact-duplicate rows with
    * distinct ids stay distinct instances.
    */
  final val instanceIdCol = new Param[String](this, "instanceIdCol",
    "row identity column (long); empty = content hash of (label, vector)")
  setDefault(instanceIdCol -> "")

  /** Number of features the selector keeps, by score descending. */
  final val numTopFeatures = new IntParam(this, "numTopFeatures",
    "number of features to select", ParamValidators.gtEq(1))
  setDefault(numTopFeatures -> 10)

  /** Neighbors per class in the RELIEF-F neighborhood (k = this × #classes). */
  final val numNeighbors = new IntParam(this, "numNeighbors",
    "neighbors per class", ParamValidators.gtEq(1))
  setDefault(numNeighbors -> 10)

  /** Fraction of the dataset sampled as the query set. */
  final val estimationRatio = new DoubleParam(this, "estimationRatio",
    "fraction of rows used as RELIEF queries", ParamValidators.inRange(0, 1, false, true))
  setDefault(estimationRatio -> 0.25)

  /** Fraction of the query sample per broadcast batch. */
  final val batchSize = new DoubleParam(this, "batchSize",
    "fraction of the sample per batch", ParamValidators.inRange(0, 1, false, true))
  setDefault(batchSize -> 0.25)

  /** Absolute cap on query rows per broadcast batch. `batchSize` is a
    * FRACTION, so at fixed estimationRatio the collected batch grows
    * linearly with the data and would eventually kill the driver; this
    * cap raises the batch count instead, bounding driver/broadcast
    * memory at any input size. The effective batch count is
    * max(round(1/batchSize), ceil(expectedQueryRows / this)).
    */
  final val maxQueryRowsPerBatch = new IntParam(this, "maxQueryRowsPerBatch",
    "absolute row cap per broadcast query batch", ParamValidators.gtEq(1))
  setDefault(maxQueryRowsPerBatch -> 100000)

  /** Multiple of numTopFeatures involved in redundancy accounting. */
  final val lowerFeatureThreshold = new DoubleParam(this, "lowerFeatureThreshold",
    "redundancy candidate pool size, as a multiple of numTopFeatures", ParamValidators.gtEq(1))
  setDefault(lowerFeatureThreshold -> 3.0)

  /** Collision threshold scale for continuous data (Chebyshev 6σ rule;
    * data assumed standardized to mean 0 / std 1).
    */
  final val lowerDistanceThreshold = new DoubleParam(this, "lowerDistanceThreshold",
    "fraction of the 6-sigma range treated as a collision", ParamValidators.inRange(0, 1))
  setDefault(lowerDistanceThreshold -> 0.8)

  /** Rank by relevance−redundancy (true) or plain RELIEF-F relevance (false). */
  final val redundancyRemoval = new BooleanParam(this, "redundancyRemoval",
    "use collision-based redundancy in the final ranking")
  setDefault(redundancyRemoval -> false)

  /** Discrete features: collisions are exact matches, votes are counts. */
  final val discreteData = new BooleanParam(this, "discreteData",
    "treat features as discrete")
  setDefault(discreteData -> false)

  /** Force feature-keyed (sparse) weight accumulation. Auto-enabled
    * above [[ReliefFRSelector.DenseFeatureLimit]] features; set
    * explicitly for ultra-sparse data below that.
    */
  final val highDimMode = new BooleanParam(this, "highDimMode",
    "feature-keyed sparse accumulation for very high-dimensional data")
  setDefault(highDimMode -> false)

  def getSelectionSize: Int = $(numTopFeatures)
}

/** Spark-native distributed RELIEF-F feature selection with
  * collision-based redundancy removal — same capability as the
  * reference BELIEF estimator (reference ReliefFRSelector.scala), but
  * re-architected for Spark's execution model rather than ported:
  *
  *  - Row identity is a content hash (label + vector values), and
  *    sampling/batching/tie-breaks/thresholds all key off it — the fit
  *    is bit-reproducible under ANY re-partitioning or cluster layout.
  *    The reference keys kNN on (partitionIndex, localIndex) and uses
  *    per-partition RNG for sampling (ReliefFRSelector.scala:339-369,
  *    223-242), so its results shift with the layout.
  *  - Each query batch is collected and broadcast as a [[KnnBatch]];
  *    every partition scans its rows once through that shared exact
  *    kNN kernel, maintaining a bounded [[TopK]] per (query, class);
  *    heaps merge with `reduceByKey` (map-side combine — shuffle is
  *    O(#queries × k), never O(rows)). Dense rows are scored against a
  *    feature-major copy of the batch, one vectorized pass over all
  *    queries per row, with the exact operation order of
  *    `Vectors.sqdist`, so neighbors and weights are bit-identical to a
  *    per-pair loop; sparse rows, and batches holding a sparse query,
  *    keep `Vectors.sqdist`.
  *  - The weight pass inverts the neighbor map (rowId → queries it
  *    serves) and `treeAggregate`s flat primitive arrays: per-feature
  *    per-(class,hit/miss) relevance sums, collision marginals, and a
  *    (topFeature × feature) joint-collision matrix. No Spark
  *    accumulators (the reference's accumulator-based marginals,
  *    ReliefFRSelector.scala:392-394, can double-count under task
  *    retry; treeAggregate is exactly-once) and no driver-side
  *    per-partition tables.
  *  - The collision threshold randomness is a pure hash of
  *    (seed, queryId, rowId) — deterministic and partition-independent.
  *  - Greedy mRMR-style selection runs on the driver over nFeat-sized
  *    arrays (reference ReliefFRSelector.scala:684-732 semantics:
  *    score = relevance − redundancy/|selected|).
  *
  * Deviations from the reference, on purpose:
  *  - a query instance is not its own neighbor;
  *  - joint collision mass is accumulated between pairs of features
  *    that *both* collide on a (query, neighbor) pair — the reference
  *    mixes in stale per-feature votes from the previous neighbor
  *    (ReliefFRSelector.scala:419-420, 449-456);
  *  - relevance/marginal/joint accumulate in Double, not Float.
  *
  * Scale notes (100 TB): the data is scanned 2×#batches times and
  * never shuffled (only fixed-size digests move); broadcast per batch
  * is batchRows × vectorSize, and each executor builds one more copy of
  * a dense batch, feature-major (≤ maxQueryRowsPerBatch × vectorSize
  * doubles); the joint matrix is
  * O(lowerFeat × nFeat) doubles per task — for very high-dimensional
  * sparse data, raise batch count and lower lowerFeatureThreshold.
  * Every job the fit runs carries the description
  * "graft relief: <phase>": one setup job (row count, label counts and
  * vector width in one pass), then one sample, one kNN and one weights
  * job per batch, "sample b/B" etc.
  */
final class ReliefFRSelector(override val uid: String)
    extends Estimator[ReliefFRSelectorModel] with ReliefFRParams with MLWritable {

  def this() = this(Identifiable.randomUID("reliefFR"))

  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setNumTopFeatures(v: Int): this.type = set(numTopFeatures, v)
  def setInstanceIdCol(v: String): this.type = set(instanceIdCol, v)
  def setNumNeighbors(v: Int): this.type = set(numNeighbors, v)
  def setEstimationRatio(v: Double): this.type = set(estimationRatio, v)
  def setBatchSize(v: Double): this.type = set(batchSize, v)
  def setMaxQueryRowsPerBatch(v: Int): this.type = set(maxQueryRowsPerBatch, v)
  def setLowerFeatureThreshold(v: Double): this.type = set(lowerFeatureThreshold, v)
  def setLowerDistanceThreshold(v: Double): this.type = set(lowerDistanceThreshold, v)
  def setRedundancyRemoval(v: Boolean): this.type = set(redundancyRemoval, v)
  def setDiscreteData(v: Boolean): this.type = set(discreteData, v)
  def setHighDimMode(v: Boolean): this.type = set(highDimMode, v)

  override def transformSchema(schema: StructType): StructType = {
    require(schema($(labelCol)).dataType == DoubleType,
      s"label column ${$(labelCol)} must be double")
    StructType(schema.fields :+ StructField($(outputCol), schema($(inputCol)).dataType))
  }

  override def fit(dataset: Dataset[_]): ReliefFRSelectorModel = {
    val spark = dataset.sparkSession
    val sc = spark.sparkContext

    // Row identity is a CONTENT hash, not zipWithUniqueId/partition
    // position: sampling, batching, neighbor tie-breaks and collision
    // thresholds all key off it, which makes the whole fit invariant
    // under re-partitioning and cluster layout (the reference is not:
    // its sample/randomSplit/localIndex all shift with partitioning).
    // Exact-duplicate rows share an identity and are treated as one
    // instance with multiplicity — the natural semantics for kNN.
    // With instanceIdCol set, the user's ids take over — equally
    // layout-invariant, and externally recomputable.
    val data: RDD[(Long, Vector, Double)] =
      (if ($(instanceIdCol).isEmpty) {
        dataset.toDF()
          .select(col($(inputCol)), col($(labelCol)).cast("double"))
          .rdd.map { case Row(v: Vector, l: Double) =>
            (ReliefFRSelector.contentHash(v, l), v, l)
          }
      } else {
        dataset.toDF()
          .select(col($(instanceIdCol)).cast("long"), col($(inputCol)),
            col($(labelCol)).cast("double"))
          .rdd.map { case Row(id: Long, v: Vector, l: Double) => (id, v, l) }
      }).persist(StorageLevel.MEMORY_AND_DISK)

    val (nElems, nFeat, priors) = ReliefFRSelector.phase(sc, "setup") {
      // one job: per partition, the row count of each label and the
      // width of the first row
      val parts = data.mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[Double, Long]
        var width = -1
        it.foreach { case (_, v, l) =>
          if (width < 0) width = v.size
          counts(l) = counts.getOrElse(l, 0L) + 1L
        }
        Iterator.single((width, counts.toMap))
      }.collect()
      val counts = parts.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
      val n = counts.values.sum
      require(n > 0, "empty dataset")
      // the first row of the first non-empty partition, as `first()` picks it
      (n, parts.find(_._1 >= 0).get._1, counts.map { case (l, c) => l -> c.toDouble / n })
    }
    val classes: Array[Double] = priors.keys.toArray.sorted
    val labelIdx: Map[Double, Int] = classes.zipWithIndex.toMap
    val nClasses = classes.length
    val lowerFeat = math.max($(numTopFeatures),
      math.round($(lowerFeatureThreshold) * $(numTopFeatures)).toInt)

    // deterministic content-keyed Bernoulli sample + batch assignment
    // (partition-layout-independent, unlike sample()/randomSplit()).
    // Batch count: the batchSize fraction, overridden upward whenever
    // the expected sample would exceed the absolute per-batch row cap —
    // nElems is a deterministic count, so this stays layout-invariant.
    val expectedQueryRows = math.max(1L, math.round(nElems * $(estimationRatio)))
    val nBatches = math.max(
      math.max(1, math.round(1.0 / $(batchSize)).toInt),
      math.ceil(expectedQueryRows.toDouble / $(maxQueryRowsPerBatch)).toInt)
    val lSeed0 = $(seed); val lRatio = $(estimationRatio); val lNB = nBatches
    val batches: Array[RDD[(Long, Vector, Double)]] = Array.tabulate(nBatches) { b =>
      data.filter { case (id, _, _) =>
        val u = ReliefFRSelector.mix64(lSeed0 ^ id)
        ((u >>> 11).toDouble / (1L << 53).toDouble) < lRatio &&
          java.lang.Long.remainderUnsigned(ReliefFRSelector.mix64(lSeed0 + 0x51ed2701L ^ id), lNB) == b
      }
    }

    // dense accumulators below the high-dim threshold; feature-keyed
    // maps above it (memory scales with touched features, not nFeat)
    val dense = !$(highDimMode) && nFeat <= ReliefFRSelector.DenseFeatureLimit
    val totalRelevance = scala.collection.mutable.LongMap.empty[Double]
    val marginal = scala.collection.mutable.LongMap.empty[Double]
    // symmetric joint collision mass, keyed min*nFeat+max
    val joint = new java.util.HashMap[Long, Double]()
    var totalInteractions = 0.0
    var topFeatures: Array[Int] = Array.empty

    for (b <- 0 until nBatches) {
      val of = s"${b + 1}/$nBatches"
      val queries: Array[(Long, Vector, Double)] =
        ReliefFRSelector.phase(sc, s"sample $of")(batches(b).collect())
      if (queries.nonEmpty) {
        val bQueries = sc.broadcast(new KnnBatch(queries.map(_._1), queries.map(_._2)))
        val qLabels = queries.map(_._3)

        // ---- pass 1: distributed kNN for this batch ----
        // True RELIEF-F neighborhoods: numNeighbors nearest *per class*
        // (one bounded heap per (query, class)). The reference keeps a
        // single global top-(k·nClasses) queue per query
        // (ReliefFRSelector.scala:334-369) despite documenting per-class
        // intent — with well-separated classes that starves the miss
        // groups entirely; per-class heaps implement the documented
        // semantics.
        val kPerClass = $(numNeighbors)
        val neighborSets: Array[(Int, Array[TopK])] = ReliefFRSelector.phase(sc, s"knn $of") {
          data.mapPartitions { it =>
            val knn = bQueries.value.scanner(nClasses, kPerClass)
            it.foreach { case (id, v, l) => knn.add(id, v, labelIdx(l)) }
            Iterator.tabulate(bQueries.value.size)(j => (j, knn.heapsOf(j)))
          }.reduceByKey { (a, b) =>
            var c = 0
            while (c < a.length) { a(c).merge(b(c)); c += 1 }
            a
          }.collect()
        }

        // invert: rowId -> query indices it serves (buffer-backed build:
        // `prev :+ qIdx` would be O(k²) per hot row)
        val nbrBuf = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
        neighborSets.foreach { case (qIdx, heapsByClass) =>
          heapsByClass.foreach(_.sorted.foreach { case (_, id) =>
            var buf = nbrBuf.get(id)
            if (buf == null) {
              buf = new scala.collection.mutable.ArrayBuffer[Int](4)
              nbrBuf.put(id, buf)
            }
            buf += qIdx
          })
        }
        val nbrOf = new java.util.HashMap[Long, Array[Int]](nbrBuf.size())
        nbrBuf.forEach((id, buf) => nbrOf.put(id, buf.toArray))
        val bNbrOf = sc.broadcast(nbrOf)
        val bTopF = sc.broadcast(topFeatures)

        // ---- pass 2: relevance + collision aggregation ----
        // locals only in the closure: referencing $(param) directly
        // would serialize the whole estimator into every task
        val lSeed = $(seed); val lCont = !$(discreteData)
        val lDistTh = $(lowerDistanceThreshold)
        val acc = ReliefFRSelector.phase(sc, s"weights $of") {
          data.treeAggregate(
            new ReliefAcc(nFeat, nClasses, dense))(
            seqOp = (a, row) => {
              a.init(bTopF.value)
              val qIdxs = bNbrOf.value.get(row._1)
              if (qIdxs != null) {
                val qs = bQueries.value
                qIdxs.foreach { qi =>
                  a.addPair(qs.ids(qi), qs.vectors(qi), qLabels(qi), row._1, row._2, row._3,
                    labelIdx, lSeed, lCont, lDistTh)
                }
              }
              a
            },
            combOp = (a1, a2) => a1.mergeWith(a2))
        }

        // fold batch results into the running totals
        acc.foreachBatchRelevance(priors, classes) { (f, w) =>
          totalRelevance.update(f, totalRelevance.getOrElse(f, 0.0) + w)
        }
        acc.foreachMarginal { (f, v) =>
          marginal.update(f, marginal.getOrElse(f, 0.0) + v)
        }
        acc.foreachJoint { (i, j, v) =>
          val key = math.min(i, j).toLong * nFeat + math.max(i, j)
          joint.merge(key, v, (x, y) => x + y)
        }
        totalInteractions += acc.classCounterSum

        // top features for the next batch's redundancy accounting
        topFeatures = totalRelevance.toArray
          .sortBy { case (f, w) => (-w, f) }.take(lowerFeat).map(_._1.toInt)

        bQueries.destroy(); bNbrOf.destroy(); bTopF.destroy()
      }
    }
    data.unpersist()

    // ---- candidate features: everything with accumulated mass ----
    // (the reference likewise only ranks features present in the weight
    // RDD — never-active features of an ultra-sparse input are not
    // selection candidates)
    val candFeats: Array[Int] = totalRelevance.keys.map(_.toInt).toArray.sorted
    val candRel: Array[Double] = candFeats.map(f => totalRelevance(f.toLong))
    if (candFeats.isEmpty) {
      // degenerate sample (estimationRatio × nElems rounded to zero
      // queries): fall back to the identity ranking with zero weights
      logWarning("RELIEF sample produced no query points; returning identity selection")
      val sel = Array.range(0, math.min($(numTopFeatures), nFeat))
      return copyValues(new ReliefFRSelectorModel(uid, sel, sel,
        nFeat, 0.0, Array.empty[Int], Array.empty[Double]).setParent(this))
    }

    // ---- normalize relevance (min-max; implicit zeros widen the range
    // when some features were never touched) ----
    val hasAbsent = candFeats.length < nFeat
    val maxR = math.max(candRel.max, if (hasAbsent) 0.0 else Double.NegativeInfinity)
    val minR = math.min(candRel.min, if (hasAbsent) 0.0 else Double.PositiveInfinity)
    val span = if (maxR > minR) maxR - minR else 1.0
    val candNorm = candRel.map(w => (w - minR) / span)

    // ---- collisions -> mutual-information-like redundancy ----
    // (reference ReliefFRSelector.scala:631-679)
    val totalI = math.max(totalInteractions, 1.0)
    val jointTotal = totalI * (1.0 - $(estimationRatio) * (1.0 / nBatches))
    val log2 = (x: Double) => math.log(x) / math.log(2)
    val redRaw = new java.util.HashMap[Long, Double]()
    joint.forEach { (key, v) =>
      val i = key / nFeat; val j = key % nFeat
      val jprob = v / jointTotal
      val mi = marginal.getOrElse(i, 0.0) / totalI
      val mj = marginal.getOrElse(j, 0.0) / totalI
      val r = jprob * log2(jprob / (mi * mj))
      redRaw.put(key, if (r.isNaN || r.isInfinite) 0.0 else r)
    }
    var maxRed = Double.NegativeInfinity; var minRed = Double.PositiveInfinity
    redRaw.forEach { (_, v) => { if (v > maxRed) maxRed = v; if (v < minRed) minRed = v } }
    val redSpan = if (maxRed > minRed) maxRed - minRed else 1.0
    val redundancy = new java.util.HashMap[Long, Double]()
    redRaw.forEach { (key, v) => redundancy.put(key, (v - minRed) / redSpan) }

    // ---- selection ----
    val order = candFeats.indices.toArray
      .sortBy(i => (-candNorm(i), candFeats(i)))
    val stdSelection = order.take($(numTopFeatures)).map(candFeats(_))
    val redSelection = greedySelect(candFeats, candNorm, order, redundancy, nFeat)

    // Sparse model weights: candFeats is already ascending, candNorm
    // aligned — the model (and its persistence) is bounded by ACTIVE
    // dims; absent features share the min-max image of zero relevance.
    // Nothing O(nFeat) is materialized anywhere in the fit.
    val model = new ReliefFRSelectorModel(uid, stdSelection, redSelection,
      nFeat, (0.0 - minR) / span, candFeats, candNorm)
    copyValues(model.setParent(this))
  }

  /** Greedy relevance-vs-redundancy selection over the candidate list:
    * score(f) = relevance(f) − accumulatedRedundancy(f) / |selected|.
    * O(numTopFeatures × candidates) time, O(candidates) memory.
    */
  private def greedySelect(
      candFeats: Array[Int],
      candNorm: Array[Double],
      order: Array[Int],
      redundancy: java.util.HashMap[Long, Double],
      nFeat: Int): Array[Int] = {
    val n = candFeats.length
    val nSel = math.min($(numTopFeatures), n)
    val redAcc = new Array[Double](n)
    val taken = new Array[Boolean](n)
    val selected = new scala.collection.mutable.ArrayBuffer[Int](nSel)

    val first = order.head // highest relevance, smallest feature on ties
    selected += first; taken(first) = true

    while (selected.size < nSel) {
      val last = candFeats(selected.last)
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val f = candFeats(i)
          val key = math.min(last, f).toLong * nFeat + math.max(last, f)
          redAcc(i) += redundancy.getOrDefault(key, 0.0)
        }
        i += 1
      }
      var bestI = -1; var bestScore = Double.NegativeInfinity
      i = 0
      while (i < n) {
        if (!taken(i)) {
          val s = candNorm(i) - redAcc(i) / selected.size
          if (s > bestScore || (s == bestScore && (bestI == -1 || candFeats(i) < candFeats(bestI)))) {
            bestScore = s; bestI = i
          }
        }
        i += 1
      }
      if (bestI == -1) return selected.map(candFeats(_)).toArray
      selected += bestI; taken(bestI) = true
    }
    selected.map(candFeats(_)).toArray
  }

  override def copy(extra: ParamMap): ReliefFRSelector = defaultCopy(extra)

  override def write: MLWriter = new GraftParamsWriter(this)
}

object ReliefFRSelector extends MLReadable[ReliefFRSelector] {
  /** Above this many features the weight pass switches to feature-keyed
    * sparse accumulation automatically (dense arrays would cost
    * nFeat × 2·nClasses doubles per task).
    */
  val DenseFeatureLimit: Int = 1 << 20

  /** The local property behind `SparkContext.setJobDescription`. */
  private val JobDescription = "spark.job.description"

  /** Runs `body` with the Spark job description "graft relief: <name>",
    * so the fit's jobs name their phase in the UI and event log; the
    * caller's description is restored afterwards, also on exception.
    */
  private def phase[T](sc: SparkContext, name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(s"graft relief: $name")
    try body finally sc.setLocalProperty(JobDescription, prev)
  }

  /** splitmix64 finalizer — stateless 64-bit mixer. */
  private[ml] def mix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Content identity of a row: a mixed hash over the label and the
    * vector's (indices,) values. Partition- and layout-independent.
    */
  private[ml] def contentHash(v: Vector, label: Double): Long = {
    var h = mix64(java.lang.Double.doubleToLongBits(label))
    v match {
      case d: DenseVector =>
        val a = d.values
        var i = 0
        while (i < a.length) {
          h = mix64(h ^ java.lang.Double.doubleToLongBits(a(i))); i += 1
        }
      case s: SparseVector =>
        var i = 0
        while (i < s.indices.length) {
          h = mix64(h ^ s.indices(i))
          h = mix64(h ^ java.lang.Double.doubleToLongBits(s.values(i)))
          i += 1
        }
    }
    h
  }

  override def read: MLReader[ReliefFRSelector] =
    new GraftParamsReader[ReliefFRSelector](uid => new ReliefFRSelector(uid))
}

/** Accumulator for the RELIEF weight pass (one per task via
  * treeAggregate). Two storage modes behind one interface:
  *
  *  - dense (default): flat primitive arrays —
  *    relevance [feature × (2·nClasses)], marginal [feature],
  *    joint [topFeatureSlot × feature]. Fastest, O(nFeat) memory.
  *  - sparse (high-dim mode): open-addressing LongMaps keyed by
  *    feature — memory scales with the features actually touched, not
  *    nFeat, which is what makes kddb-scale (tens of millions of
  *    features, reference README) inputs feasible. Never-active
  *    features have exactly-zero relevance in both modes.
  *
  * classCounter (2·nClasses) is always dense. Scratch buffers grow with
  * the per-pair collision count, never with nFeat.
  */
final class ReliefAcc(nFeat: Int, nClasses: Int, dense: Boolean) extends Serializable {
  private val nGroups = 2 * nClasses
  private val classCounter = new Array[Double](nGroups)

  // dense stores
  private var relArr: Array[Double] = if (dense) new Array[Double](nFeat * nGroups) else null
  private var margArr: Array[Double] = if (dense) new Array[Double](nFeat) else null
  // candidate semantics must match sparse mode: only features actually
  // visited by some (query, neighbor) pair are ranked
  private var touched: Array[Boolean] = if (dense) new Array[Boolean](nFeat) else null
  private var jointArr: Array[Double] = _ // [slot × nFeat], dense mode
  private var slotOfArr: Array[Int] = _ // feature -> slot or -1, dense mode

  // sparse stores (feature-keyed)
  private var relMap: scala.collection.mutable.LongMap[Array[Double]] =
    if (dense) null else scala.collection.mutable.LongMap.empty
  private var margMap: scala.collection.mutable.LongMap[Double] =
    if (dense) null else scala.collection.mutable.LongMap.empty
  private var jointMap: scala.collection.mutable.LongMap[Double] =
    if (dense) null else scala.collection.mutable.LongMap.empty
  private var topFeatSet: scala.collection.immutable.Set[Int] = _

  private var slotFeat: Array[Int] = _ // slot -> feature
  private var inited = false

  def init(topFeatures: Array[Int]): Unit = if (!inited) {
    inited = true
    slotFeat = topFeatures
    if (dense) {
      slotOfArr = Array.fill(nFeat)(-1)
      var s = 0
      while (s < topFeatures.length) { slotOfArr(topFeatures(s)) = s; s += 1 }
      jointArr = new Array[Double](topFeatures.length * nFeat)
    } else {
      topFeatSet = topFeatures.toSet
    }
  }

  // scratch: collided (feature, vote) pairs for the current neighbor
  // pair — grows with collisions seen, not with nFeat
  @transient private var cF: Array[Int] = _
  @transient private var cV: Array[Double] = _

  private def ensureScratch(): Unit = {
    if (cF == null) { cF = new Array[Int](256); cV = new Array[Double](256) }
  }

  @inline private def addRel(f: Int, g: Int, v: Double): Unit =
    if (dense) { relArr(f * nGroups + g) += v; touched(f) = true }
    else {
      val gs = relMap.getOrNull(f)
      if (gs != null) gs(g) += v
      else { val a = new Array[Double](nGroups); a(g) = v; relMap.update(f, a) }
    }

  @inline private def addMarg(f: Int, v: Double): Unit =
    if (dense) margArr(f) += v
    else margMap.update(f, margMap.getOrElse(f, 0.0) + v)

  @inline private def isTop(f: Int): Boolean =
    if (dense) slotOfArr(f) >= 0 else topFeatSet.contains(f)

  @inline private def addJoint(fi: Int, fj: Int, v: Double): Unit =
    if (dense) jointArr(slotOfArr(fi) * nFeat + fj) += v
    else {
      val key = fi.toLong * nFeat + fj
      jointMap.update(key, jointMap.getOrElse(key, 0.0) + v)
    }

  /** Deterministic uniform [0,1) from (seed, queryId, rowId) — splitmix64. */
  private def pairRand(seed: Long, qid: Long, id: Long): Double = {
    var z = seed ^ (qid * 0x9e3779b97f4a7c15L) ^ (id * 0xbf58476d1ce4e5b9L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  def addPair(qid: Long, qv: Vector, qlabel: Double, id: Long, v: Vector, label: Double,
      labelIdx: Map[Double, Int], seed: Long, continuous: Boolean,
      lowerDistanceTh: Double): Unit = {
    ensureScratch()
    val mod = if (label == qlabel) 0 else nClasses
    val g = labelIdx(label) + mod
    classCounter(g) += 1

    val thr =
      if (continuous) 6.0 * (1.0 - (lowerDistanceTh + pairRand(seed, qid, id) * lowerDistanceTh))
      else 0.0
    var nCollided = 0

    @inline def visit(f: Int, diff: Double): Unit = {
      addRel(f, g, diff)
      if (diff <= thr) {
        val vote = if (continuous) 1.0 - math.min(6.0, diff) / 6.0 else 1.0
        addMarg(f, vote)
        if (nCollided == cF.length) {
          cF = java.util.Arrays.copyOf(cF, cF.length * 2)
          cV = java.util.Arrays.copyOf(cV, cV.length * 2)
        }
        cF(nCollided) = f; cV(nCollided) = vote; nCollided += 1
      }
    }

    (qv, v) match {
      case (q: DenseVector, d: DenseVector) =>
        val qa = q.values; val da = d.values
        var f = 0
        while (f < nFeat) { visit(f, math.abs(qa(f) - da(f))); f += 1 }
      case _ =>
        // sparse path: iterate the union of active indices (both-zero
        // features contribute no diff and no collision — mirrors the
        // reference's sparse semantics, ReliefFRSelector.scala:539-580)
        val (qi, qa) = activeOf(qv); val (di, da) = activeOf(v)
        var a = 0; var b2 = 0
        while (a < qi.length || b2 < di.length) {
          if (b2 >= di.length || (a < qi.length && qi(a) < di(b2))) {
            visit(qi(a), math.abs(qa(a))); a += 1
          } else if (a >= qi.length || di(b2) < qi(a)) {
            visit(di(b2), math.abs(da(b2))); b2 += 1
          } else {
            visit(qi(a), math.abs(qa(a) - da(b2))); a += 1; b2 += 1
          }
        }
    }

    // joint collision mass between colliding pairs with a top-feature side
    var x = 0
    while (x < nCollided) {
      val fi = cF(x)
      if (isTop(fi)) {
        var y = 0
        while (y < nCollided) {
          val fj = cF(y)
          if (fj != fi) addJoint(fi, fj, (cV(x) + cV(y)) / 2.0)
          y += 1
        }
      }
      x += 1
    }
  }

  private def activeOf(v: Vector): (Array[Int], Array[Double]) = v match {
    case s: SparseVector => (s.indices, s.values)
    case d: DenseVector => (Array.range(0, d.size), d.values)
  }

  def mergeWith(o: ReliefAcc): ReliefAcc = {
    var i = 0
    while (i < nGroups) { classCounter(i) += o.classCounter(i); i += 1 }
    if (dense) {
      i = 0; while (i < relArr.length) { relArr(i) += o.relArr(i); i += 1 }
      i = 0; while (i < nFeat) { margArr(i) += o.margArr(i); touched(i) |= o.touched(i); i += 1 }
      if (o.jointArr != null) {
        if (jointArr == null) { jointArr = o.jointArr; slotOfArr = o.slotOfArr; slotFeat = o.slotFeat }
        else { i = 0; while (i < jointArr.length) { jointArr(i) += o.jointArr(i); i += 1 } }
      }
    } else {
      o.relMap.foreachEntry { (f, gs) =>
        val mine = relMap.getOrNull(f)
        if (mine == null) relMap.update(f, gs)
        else { var g = 0; while (g < nGroups) { mine(g) += gs(g); g += 1 } }
      }
      o.margMap.foreachEntry((f, v) => margMap.update(f, margMap.getOrElse(f, 0.0) + v))
      o.jointMap.foreachEntry((k, v) => jointMap.update(k, jointMap.getOrElse(k, 0.0) + v))
    }
    this
  }

  /** Batch relevance per feature (signed, prior-weighted, per-group
    * normalized by neighbor counts — reference
    * ReliefFRSelector.scala:604-629), streamed to `fn(feature, weight)`
    * for every feature with any accumulated mass.
    */
  def foreachBatchRelevance(priors: Map[Double, Double], classes: Array[Double])(
      fn: (Int, Double) => Unit): Unit = {
    @inline def weightOf(groups: Int => Double): Double = {
      var sum = 0.0
      var gi = 0
      while (gi < nGroups) {
        if (classCounter(gi) > 0) {
          val sign = if (gi < nClasses) -1.0 else 1.0 // first half: same-class (hit)
          sum += sign * priors(classes(gi % nClasses)) * groups(gi) / classCounter(gi)
        }
        gi += 1
      }
      sum
    }
    if (dense) {
      var f = 0
      while (f < nFeat) {
        if (touched(f)) fn(f, weightOf(gi => relArr(f * nGroups + gi)))
        f += 1
      }
    } else {
      relMap.foreachEntry((f, gs) => fn(f.toInt, weightOf(gi => gs(gi))))
    }
  }

  def foreachMarginal(fn: (Int, Double) => Unit): Unit =
    if (dense) {
      var f = 0
      while (f < nFeat) { if (margArr(f) != 0.0) fn(f, margArr(f)); f += 1 }
    } else margMap.foreachEntry((f, v) => fn(f.toInt, v))

  def classCounterSum: Double = { var s = 0.0; var i = 0; while (i < nGroups) { s += classCounter(i); i += 1 }; s }

  def foreachJoint(fn: (Int, Int, Double) => Unit): Unit =
    if (dense) {
      if (jointArr != null) {
        var s = 0
        while (s < slotFeat.length) {
          var f = 0
          while (f < nFeat) {
            val v = jointArr(s * nFeat + f)
            if (v != 0.0) fn(slotFeat(s), f, v)
            f += 1
          }
          s += 1
        }
      }
    } else if (jointMap != null) {
      jointMap.foreachEntry((k, v) => fn((k / nFeat).toInt, (k % nFeat).toInt, v))
    }
}
