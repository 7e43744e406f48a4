package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every graft main and spec runs on:
  * `local[cpus]`, one shuffle partition per core, UTC session time
  * (the oracle's timestamps are UTC), no UI, the graft native
  * functions registered, WARN logging.
  */
object LocalSession {
  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else every available processor. */
  def apply(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
