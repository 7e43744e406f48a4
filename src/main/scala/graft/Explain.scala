package graft

/** Plan-review helper: prints the formatted physical plan for the named
  * queries (all if none given). Usage:
  *   sbt "runMain graft.Explain <sfDir> [name ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
