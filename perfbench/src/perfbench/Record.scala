package perfbench

import java.nio.file.{Files, Paths}

/** Writes the expected outputs the correctness gate compares against:
  * for every workload and input variant, the RELIEF model digest or
  * each operator's row count and hash, as `perfbench/expected.tsv`
  * lines. Run it only on a commit whose outputs are known good:
  *
  *     python3 perfbench/run.py --record perfbench/expected.tsv
  */
object Record {
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("work").resolve(s"record-${ProcessHandle.current().pid()}")
    val spark = Main.session(work)
    val lines = Seq.newBuilder[String]
    lines += "# workload\tinput variant\tkey\texpected value (written by perfbench.Record)"
    for ((w, spec) <- ReliefWorkloads.all; v <- 0 until Main.Variants) {
      val input = spec.gen(spark, v.toLong, 2 * Main.cores).cache()
      val m = spec.configure(input.count()).fit(input)
      spec.planted(m).foreach(why => throw new IllegalStateException(s"variant $v: $why"))
      lines += s"$w\t$v\tdigest\t" +
        Gate.reliefDigest(m.stdSelection, m.redundancySelection, m.weightedFeatures, m.weightedValues)
      input.unpersist(true)
      System.err.println(s"recorded $w/$v")
    }
    val registry = graft.SparkEntry.queries
    for (v <- 0 until Main.Variants) {
      val dir = work.resolve(s"tables-$v")
      Files.createDirectories(dir)
      Inputs.engineTables(spark, v.toLong, EngineOps.Sf, dir)
      EngineOps.Ops.foreach { op =>
        val rows = registry(op)(spark, dir.toString).collect()
        lines += s"${EngineOps.Name}\t$v\t$op\t${Gate.fmtRowHash(Gate.rowHash(rows))}"
      }
      System.err.println(s"recorded ${EngineOps.Name}/$v")
    }
    spark.stop()
    Main.deleteTree(work)
    Files.write(out, (lines.result().mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
