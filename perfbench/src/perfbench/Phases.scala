package perfbench

/** One Spark job as the listener saw it. `nStages` counts every stage
  * the job's DAG holds (skipped ones too), so `nStages > 1` means the
  * job crosses a shuffle.
  */
final case class JobRec(id: Int, startMs: Long, endMs: Long, nStages: Int, name: String) {
  def hasShuffle: Boolean = nStages > 1
}

/** Assigns the jobs of one `ReliefFRSelector.fit` to its phases.
  *
  * The fit issues, in order: `count`, `first` and `countByValue` (the
  * class priors, the first job with a shuffle); then per query batch a
  * `collect` of the batch, the kNN job (a `reduceByKey`, so it has a
  * shuffle) and the `treeAggregate` weight pass (which gains a shuffle
  * level of its own on wide partitionings). Call-site names change
  * with the Spark version and with inlining, so the classifier reads
  * only the structure: everything up to the first shuffle job is
  * setup; after it, a job that directly follows a kNN job is the
  * weight pass, any other shuffle job is kNN, and the rest are batch
  * sampling.
  */
object Phases {
  val Setup = "setup"
  val Sample = "sample"
  val Knn = "knn"
  val Weight = "weight"
  val All: Seq[String] = Seq(Setup, Sample, Knn, Weight)

  def classify(jobs: Seq[JobRec]): Seq[(JobRec, String)] = {
    val byId = jobs.sortBy(_.id)
    var inSetup = true
    var prev = ""
    byId.map { j =>
      val phase =
        if (inSetup) { if (j.hasShuffle) inSetup = false; Setup }
        else if (prev == Knn) Weight
        else if (j.hasShuffle) Knn
        else Sample
      prev = phase
      j -> phase
    }
  }

  /** Total length of the union of half-open [start, end) intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    spans.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
