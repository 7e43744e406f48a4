package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (dev loop — the
    // driver passes two args and gets the full dump)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Bench.message(e)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Queries that errored produce no parquet and would otherwise vanish
    // from the driver's compare (the round then reads as all-pass with a
    // silently shrunken key set). Record them explicitly so a failed
    // query fails loudly rather than disappearing.
    val errJson = failures
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size}/${SparkEntry.queries.size} queries FAILED: " +
          failures.keys.mkString(", "))
    }
    spark.stop()
  }
}
