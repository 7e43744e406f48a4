package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic clustered-embedding generator — the realistic recall
  * tier (r13 VERDICT #4).
  *
  * Every ANN recall number before r14 rode the driver testdata's
  * orthogonal-noise (+ ScaleUp exact-twin) embeddings, whose measured
  * geometry is the worst case for graph navigation: best non-twin
  * cosine ≈ 0.27, mean ≈ 0.001 — no gradient for a greedy walk to
  * follow (SURVEY §18.2). Real embedding corpora are CLUSTERED. This
  * generator plants a Gaussian mixture: `centroids` cluster centers
  * with components uniform in [-1, 1], members = centroid + σ·N(0, I)
  * (σ = 0.25 → within-cluster cosine ≈ 0.9, cross-cluster ≈ 0), so a
  * query's true top-k is dominated by same-cluster neighbors and a
  * navigable gradient exists — the regime HNSW-style serving is FOR.
  *
  * Determinism without RNG state: every component is a pure function
  * of (vec_id, dim, seed) through Murmur3 `hash()` → uniform (0,1) →
  * Box-Muller, so the corpus is bit-identical across partitionings,
  * engines, and re-runs (the ScaleUp discipline; Date/Random are
  * banned in workflow-adjacent code anyway). Output:
  * `<outDir>/embeddings.parquet` with the driver testdata's exact
  * schema (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT — label =
  * the planted cluster id, so downstream label-consuming ops keep
  * working and cluster membership is inspectable).
  *
  *   runMain graft.sim.ClusteredEmbeddings <outDir> <n> [centroids]
  */
object ClusteredEmbeddings {
  val Dim = 64
  val DefaultCentroids = 64
  val Sigma = 0.25
  val Seed = 0x9E3779B9L

  /** Murmur3-int → strict-open uniform (0,1), as a SQL fragment. */
  private def u(cols: String): String =
    s"((cast(hash($cols, $Seed) as double) + 2147483648.5D) / 4294967297.0D)"

  def frame(spark: SparkSession, n: Long, centroids: Int): DataFrame = {
    val c = s"(id % $centroids)"
    val cu = u(s"$c, j, 7")
    val u1 = u("id, j, 1")
    val u2 = u("id, j, 2")
    spark.range(n).selectExpr(
      "id AS vec_id",
      s"""transform(sequence(0, ${Dim - 1}), j -> cast(
         (2.0D * $cu - 1.0D)
         + ${Sigma}D * sqrt(-2.0D * ln($u1)) * cos(2.0D * pi() * $u2)
       as float)) AS embedding""",
      s"cast($c as int) AS label")
  }

  def run(spark: SparkSession, outDir: String, n: Long, centroids: Int): Unit = {
    val tmp = s"$outDir/_tmp_embeddings"
    frame(spark, n, centroids).coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 4 * 1024 * 1024)
      .parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(outDir))
    val dest = new org.apache.hadoop.fs.Path(s"$outDir/embeddings.parquet")
    fs.delete(dest, false)
    fs.rename(part, dest)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val n = args(1).toLong
    val centroids = if (args.length > 2) args(2).toInt else DefaultCentroids
    val spark = graft.LocalSession()
    run(spark, outDir, n, centroids)
    println(s"[clustered] wrote $outDir/embeddings.parquet n=$n centroids=$centroids")
    spark.stop()
  }
}
