package graft.tools

/** Round-artifact emitter for the fixed-budget kernels' fixpoint
  * standing (r12 VERDICT #7): runs [[graft.graph.Graph.convergenceCensus]]
  * at each given SF dir and writes one JSON object —
  * `{"<dir>": {"<kernel>": {"rounds": R, "changed_last_round": C}}}`
  * — so round-over-round drift (e.g. PPR's residual keys at sf1, the
  * sync-LPA oscillation vs the damped kernel's convergence) is
  * machine-diffable instead of SURVEY prose.
  *
  *   runMain graft.tools.Convergence <out.json> <sfDir> [<sfDir> ...]
  */
object Convergence {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val dirs = args.drop(1)
    val spark = graft.LocalSession()
    val entries = dirs.map { dir =>
      val rows = graft.graph.Graph.convergenceCensus(spark, dir).collect()
        .map { r =>
          s""""${r.getString(0)}": {"rounds": ${r.getInt(1)}, """ +
            s""""changed_last_round": ${r.getLong(2)}}"""
        }
      s""""$dir": {${rows.mkString(", ")}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"[convergence] wrote $out")
    spark.stop()
  }
}
