package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench utility: synthesize a larger scale factor from an existing one
  * by unioning key-shifted replicas of every fact table.
  *
  * `runMain graft.ScaleUp <srcDir> <outDir> <factor>` writes
  * `<outDir>/<table>.parquet` with `factor`× the rows of `<srcDir>`:
  *  - every key column is shifted by `replica × (max(key)+1)` of its
  *    KEY DOMAIN (custkey shifts identically in customer and orders),
  *    so join fan-outs and per-entity densities match the source;
  *  - region/nation are fixed-size dimensions at any SF and are copied;
  *  - replica documents get a tiny `r<i> ` text prefix — distinct
  *    exact-hashes but shingle-near-identical, which stress-tests the
  *    near-dup caps the way web boilerplate does at 100 TB;
  *  - event/user ids shift, timestamps keep their range (densier
  *    traffic, same per-user session shape);
  *  - embedding vectors are kept verbatim (10× denser LSH buckets —
  *    the cap path), only vec_id shifts.
  *
  * Output is one plain parquet FILE per table (not a directory) so the
  * layout matches the driver testdata exactly — the streaming staging
  * symlinks individual files.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val spark = LocalSession()
    run(spark, srcDir, outDir, factorS.toInt)
    spark.stop()
  }

  def run(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    // source events.ts is TIMESTAMP(NANOS): read it as a plain long
    // and write it back as BIGINT nanos — Tables.events handles both
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def base(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    /** Union of `factor` key-shifted replicas, preserving column order. */
    def replicate(df: DataFrame, shifts: Map[String, Long],
        text: Boolean = false): DataFrame = {
      val cols = df.columns
      val out = df
        .crossJoin(broadcast(spark.range(factor).select(col("id").as("graft_rep"))))
        .withColumns(shifts.map { case (k, b) =>
          k -> (col(k) + col("graft_rep") * b)
        })
      val withText =
        if (text) out
          .withColumn("text",
            when(col("graft_rep") > 0,
              concat(lit("r"), col("graft_rep"), lit(" "), col("text")))
              .otherwise(col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
        else out
      withText.select(cols.map(col).toIndexedSeq: _*)
    }

    /** Write as a single plain parquet file named `<table>.parquet`. */
    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      // small row groups: a single-file table must still SPLIT across
      // scan tasks (Spark assigns parquet row groups to byte-range
      // splits) — one 80 MB row group would serialize every scan of
      // the synthesized table and corrupt the scaling measurement
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 4 * 1024 * 1024)
        .parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
        .head.getPath
      val dst = new org.apache.hadoop.fs.Path(s"$outDir/$name.parquet")
      fs.delete(dst, false)
      fs.rename(part, dst)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[scaleup] $name: ${spark.read.parquet(dst.toString).count()} rows")
    }

    def t(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")

    val custBase  = base(t("customer"), "c_custkey")
    val suppBase  = base(t("supplier"), "s_suppkey")
    val partBase  = base(t("part"), "p_partkey")
    val orderBase = base(t("orders"), "o_orderkey")

    new java.io.File(outDir).mkdirs()
    for (dim <- Seq("region", "nation")) write(t(dim), dim)
    write(replicate(t("customer"), Map("c_custkey" -> custBase)), "customer")
    write(replicate(t("supplier"), Map("s_suppkey" -> suppBase)), "supplier")
    write(replicate(t("part"), Map("p_partkey" -> partBase)), "part")
    write(replicate(t("orders"),
      Map("o_orderkey" -> orderBase, "o_custkey" -> custBase)), "orders")
    write(replicate(t("lineitem"), Map("l_orderkey" -> orderBase,
      "l_partkey" -> partBase, "l_suppkey" -> suppBase)), "lineitem")
    write(replicate(t("events"), Map(
      "event_id" -> base(t("events"), "event_id"),
      "user_id" -> base(t("events"), "user_id"))), "events")
    write(replicate(t("documents"),
      Map("doc_id" -> base(t("documents"), "doc_id")), text = true), "documents")
    write(replicate(t("embeddings"),
      Map("vec_id" -> base(t("embeddings"), "vec_id"))), "embeddings")
  }
}
