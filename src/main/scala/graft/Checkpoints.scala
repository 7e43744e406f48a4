package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lineage cuts for the iterative kernels (PageRank/LPA rounds,
  * NN-descent, the BPE merge loop, CC star-forest, greedy selections).
  *
  * Default: eager `localCheckpoint` — materializes each round into
  * executor-local block storage. No configured directory, no extra
  * I/O hop, and exactly right on local[*]. On a multi-executor
  * cluster, though, executor-local blocks die with their executor,
  * and a TRUNCATED lineage cannot recompute them — a single executor
  * loss mid-iteration fails the whole job instead of recomputing one
  * stage.
  *
  * Set `spark.graft.checkpoint.reliable=true` for cluster runs and
  * every cut becomes a reliable `Dataset.checkpoint()` written to
  * `spark.graft.checkpoint.dir` (default `/tmp/graft_ckpt_<appId>`;
  * point it at HDFS/object storage): an executor loss re-reads the
  * checkpoint instead of failing. Results are bit-identical in both
  * modes — the knob changes WHERE the materialized rounds live, never
  * their content (Round15Spec pins g02, g04 and the e23 descent equal
  * across modes). RDD-level kernels (the PageRank/PPR round loop) cut
  * through [[cut]], under the same knob.
  *
  * Durability contract in one line: localCheckpoint trades fault
  * tolerance for speed; flip the knob when executors are mortal.
  *
  * Housekeeping: reliable checkpoints are plain files under the
  * configured dir and are NOT auto-deleted by default — set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (Spark's
  * own GC-driven cleaner) or sweep the per-app subdir after the job,
  * exactly as any Spark checkpoint dir is managed.
  */
object Checkpoints {

  /** The one durability decision behind every cut: false for the
    * default executor-local cut, true when
    * `spark.graft.checkpoint.reliable` is on (the SparkContext's
    * checkpoint dir is then set to `spark.graft.checkpoint.dir`).
    */
  private def reliable(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean && {
      val sc = spark.sparkContext
      val dir = spark.conf.getOption("spark.graft.checkpoint.dir")
        .getOrElse(s"/tmp/graft_ckpt_${sc.applicationId}")
      // setCheckpointDir appends a UUID subdir — only (re)set on change
      if (!sc.getCheckpointDir.exists(_.startsWith(dir)))
        sc.setCheckpointDir(dir)
      true
    }

  /** LAZY lineage cut of an RDD under the same knob as the Dataset cuts:
    * the RDD is marked (and persisted), and the next job that computes
    * it materializes the cut — executor-local blocks by default, files
    * under the checkpoint dir in reliable mode (Spark writes those in
    * one extra job after the computing one). Returns `rdd`; the caller
    * unpersists it once a later cut supersedes it.
    */
  def cut[T](spark: SparkSession, rdd: RDD[T]): RDD[T] = {
    if (reliable(spark)) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    rdd
  }

  implicit class CutOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Eager lineage cut honoring `spark.graft.checkpoint.reliable`. */
    def cutLineage: Dataset[T] = cut(eager = true)

    /** LAZY lineage cut — same plan truncation (the returned Dataset
      * wraps the checkpoint RDD immediately, so analysis trees never
      * stack), but the materializing action is deferred to the first
      * consumer instead of paying a dedicated driver-blocking job per
      * cut (r14 measured: the iterative kernels' sf0.1 cost is ~1
      * single-task job per 37 ms, and the eager cut job is pure
      * overhead wherever the next consumer materializes the round
      * anyway). Content is identical to [[cutLineage]] in both
      * durability modes — only WHEN the rows materialize changes.
      * Use the eager form when correctness of surrounding code depends
      * on materialization ORDER (e.g. e13 unpersists its inputs after
      * the cuts; a lazy cut there would recompute the unpersisted
      * input).
      */
    def cutLineageLazy: Dataset[T] = cut(eager = false)

    private def cut(eager: Boolean): Dataset[T] =
      if (reliable(ds.sparkSession)) ds.checkpoint(eager = eager)
      else ds.localCheckpoint(eager)
  }
}
