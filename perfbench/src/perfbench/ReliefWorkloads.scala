package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ml.{ReliefFRSelector, ReliefFRSelectorModel}
import Main.{Run, medianOf, modelCalls, timed}

/** The RELIEF-F fit workloads: `ReliefFRSelector.fit` on a cached
  * in-memory frame, then the fitted model's transform and save/load.
  */
object ReliefWorkloads {

  /** @param gen     the input, from (session, seed, partitions)
    * @param configure estimator settings, given the input's row count
    * @param planted  None when the model recovered the planted features
    */
  final case class Spec(
      gen: (SparkSession, Long, Int) => DataFrame,
      configure: Long => ReliefFRSelector,
      planted: ReliefFRSelectorModel => Option[String])

  private def estimator(queries: Int, n: Long) = new ReliefFRSelector()
    .setInputCol("features").setLabelCol("label").setOutputCol("selected")
    .setEstimationRatio(math.min(1.0, queries.toDouble / n))
    .setRedundancyRemoval(true)

  val all: ListMap[String, Spec] = ListMap(
    // kNN-bound: many rows, few dimensions
    "relief_dense_knn" -> Spec(
      (s, seed, p) => Inputs.dense(s, seed, n = 30000, d = 100, classes = 3, parts = p),
      n => estimator(1000, n).setBatchSize(0.5).setNumNeighbors(10),
      m => if (m.stdSelection.take(2).toSet == Set(0, 1)) None
        else Some(s"dense: features 0,1 do not lead ${m.stdSelection.mkString(",")}")),
    // weight-pass-bound: few rows, many discrete dimensions
    "relief_discrete_wide" -> Spec(
      (s, seed, p) => Inputs.discrete(s, seed, n = 1500, d = 2000, classes = 5, parts = p),
      n => estimator(300, n).setBatchSize(0.25).setDiscreteData(true)
        .setNumNeighbors(20).setNumTopFeatures(50),
      m => if ((0 until 5).forall(m.stdSelection.take(10).contains)) None
        else Some(s"discrete: features 0-4 not all in the top 10 ${m.stdSelection.take(10).mkString(",")}")))

  val WarmRounds = 2

  /** Weights of two fits of the same input agree to this tolerance. */
  val WeightTol = 1e-9

  def sameFit(a: ReliefFRSelectorModel, b: ReliefFRSelectorModel): Boolean =
    a.stdSelection.sameElements(b.stdSelection) &&
      a.redundancySelection.sameElements(b.redundancySelection) &&
      a.weightedFeatures.sameElements(b.weightedFeatures) &&
      a.weightedValues.indices.forall(i => math.abs(a.weightedValues(i) - b.weightedValues(i)) <= WeightTol)

  /** Runs the workload; returns its set-up seconds beyond session start. */
  def run(r: Run, spec: Spec): Double = {
    val parts = 2 * Main.cores
    var input: DataFrame = null
    val (nRows, genS) = medianOf(3) {
      if (input != null) input.unpersist(true)
      input = spec.gen(r.spark, r.variant.toLong, parts).cache()
      input.count()
    }
    val est = spec.configure(nRows)
    def fit(): ReliefFRSelectorModel = est.fit(input)

    // warm-up: JIT, codegen and the first-job costs users pay once.
    // The first fit after model calls ran 15-25% slower than the next
    // ones, so the warm-up repeats the window's alternation of the two.
    val (ref, warmS) = timed {
      (1 to WarmRounds).map { _ =>
        val m = fit()
        modelCalls(r, m, input, nRows, sampleCheck = false)
        m
      }.last
    }
    r.samples.clear()
    System.err.println(f"setup: input ${genS}%.3f s (median of 3), warm-up ${warmS}%.3f s")
    r.attempt("reference fit gate") {
      spec.planted(ref).foreach(r.fail)
      r.expect("digest", Gate.reliefDigest(ref.stdSelection, ref.redundancySelection,
        ref.weightedFeatures, ref.weightedValues)).foreach(r.fail)
    }

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val half = r.opts.seconds / 2
    var iters = 0; var tracedIters = 0
    while (elapsed < r.opts.seconds || iters < 3 || (r.opts.trace && tracedIters < 3)) {
      if (r.opts.trace && !r.tracing && elapsed >= half && iters >= 3) r.startTracing()
      val gc0 = r.gcSeconds
      r.attempt("fit") {
        val (m, span) = r.tracer.call("fit") { _ => fit() }
        if (r.tracing) {
          r.sample("call_s_traced", span.seconds)
          fitLayers(r, span, r.gcSeconds - gc0)
        } else r.sample("call_s", span.seconds)
        if (!sameFit(m, ref)) r.fail("fit: selections or weights differ from the first fit")
        modelCalls(r, m, input, nRows, sampleCheck = iters == 0)
      }
      r.heapCheckpoint()
      iters += 1
      if (r.tracing) tracedIters += 1
    }
    input.unpersist(true)
    genS + warmS
  }

  /** Per-phase times and counters of one traced fit. */
  private def fitLayers(r: Run, span: CallSpan, gcS: Double): Unit = {
    val jobs = r.tracer.jobsIn(span)
    val byPhase = Phases.classify(jobs)
    Phases.All.foreach { ph =>
      r.layerSample(s"ml.fit.${ph}_s",
        Phases.unionMs(byPhase.collect { case (j, `ph`) => (j.startMs, j.endMs) }) / 1e3)
    }
    val busy = Phases.unionMs(jobs.map(j => (j.startMs, j.endMs))) / 1e3
    r.layerSample("ml.fit.driver_s", math.max(0.0, span.seconds - busy))
    val tasks = r.tracer.tasksOf(jobs)
    val taskS = tasks.map(_.runMs).sum / 1e3
    r.layerSample("ml.fit.jobs", jobs.size)
    r.layerSample("ml.fit.tasks", tasks.size)
    r.layerSample("ml.fit.task_s", taskS)
    r.layerSample("ml.fit.core_util", taskS / (Main.cores * span.seconds))
    r.layerSample("ml.fit.shuffle_bytes", tasks.map(_.shuffleWriteBytes).sum.toDouble)
    r.layerSample("ml.fit.gc_s", gcS)
  }
}
