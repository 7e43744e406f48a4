package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.ml.linalg.{SQLDataTypes, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Workload inputs, generated in-process from the workload seed. Every
  * value is a pure function of (seed, row, column), so the inputs do
  * not depend on the partitioning.
  */
object Inputs {

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def unif(seed: Long, row: Long, j: Long): Double =
    (mix(mix(mix(seed) ^ row) ^ j) >>> 11).toDouble / (1L << 53).toDouble

  private def gauss(seed: Long, row: Long, j: Long): Double = {
    val u1 = math.max(unif(seed, row, 2 * j), 1e-300)
    val u2 = unif(seed, row, 2 * j + 1)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private val schema = StructType(Seq(
    StructField("features", SQLDataTypes.VectorType), StructField("label", DoubleType)))

  private def frame(spark: SparkSession, n: Int, parts: Int)(row: Long => Row): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(0L, n.toLong, 1L, parts).map(row), schema)

  /** n × d Gaussian rows in `classes` classes; features 0 and 1 carry a
    * class-dependent mean shift, the rest are noise.
    */
  def dense(spark: SparkSession, seed: Long, n: Int, d: Int, classes: Int, parts: Int): DataFrame =
    frame(spark, n, parts) { i =>
      val label = (unif(seed, i, -1) * classes).toInt
      val x = Array.tabulate(d)(j => gauss(seed, i, j))
      x(0) += 1.5 * label; x(1) -= 1.5 * label
      Row(Vectors.dense(x), label.toDouble)
    }

  /** n × d rows over {0,1,2} in `classes` classes. Features 0–4 follow
    * the label with probability 0.7; features 5–9 copy 0–4 with
    * probability 0.9 (the redundant twins); the rest are uniform.
    */
  def discrete(spark: SparkSession, seed: Long, n: Int, d: Int, classes: Int, parts: Int): DataFrame =
    frame(spark, n, parts) { i =>
      val label = (unif(seed, i, -1) * classes).toInt
      val x = Array.tabulate(d)(j => math.floor(unif(seed, i, j) * 3))
      for (j <- 0 until 5 if unif(seed, i, d + j) < 0.7) x(j) = ((label + j) % 3).toDouble
      for (j <- 5 until 10 if unif(seed, i, 2 * d + j) < 0.9) x(j) = x(j - 5)
      Row(Vectors.dense(x), label.toDouble)
    }

  /** Writes the engine tables the engine_ops operators read, `events`
    * and `embeddings` in graft.Tables' schema, at scale factor `sf`
    * (rows relative to the sf1 layout) into `dir` as `<name>.parquet`.
    */
  def engineTables(spark: SparkSession, seed: Long, sf: Double, dir: Path): Unit = {
    def u(salt: Int) = s"(pmod(xxhash64(${seed}L, id, $salt), 1000003) / 1000003.0D)"
    val nEvents = math.round(1000000 * sf); val nUsers = math.round(15000 * sf)
    val events = spark.range(0L, nEvents, 1L, 1).selectExpr("id as event_id",
      s"timestamp_micros(1704067200000000L + cast((id + ${u(1)}) * ${2592000000000L / nEvents}L as bigint)) as ts",
      s"cast(${u(2)} * $nUsers as bigint) as user_id",
      s"element_at(array('click','error','purchase','signup','view'), cast(${u(3)} * 5 as int) + 1) as event_type",
      s"round(${u(4)} * ${u(5)} * 500, 2) as value",
      s"concat('{\"k\": ', cast(${u(6)} * 100 as int), '}') as props")
    // 10 labels, each a cluster around its own centroid
    val embeddings = spark.range(0L, math.round(20000 * sf), 1L, 1)
      .selectExpr("id", s"cast(${u(1)} * 10 as int) as label")
      .selectExpr("id as vec_id",
        s"transform(sequence(0, 63), k -> cast(0.2D * (pmod(xxhash64(${seed}L, label, k), 2001) - 1000) / 1000.0D " +
          s"+ 0.1D * (pmod(xxhash64(${seed}L, id, k, 7), 2001) - 1000) / 1000.0D as float)) as embedding",
        "label")
    Seq("events" -> events, "embeddings" -> embeddings).foreach { case (name, df) =>
      val tmp = dir.resolve(s"_$name")
      df.write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
