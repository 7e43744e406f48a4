package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

/** Reduces a run to its metrics: the result line on stdout, a report
  * with every sample, and with tracing the span trace.
  */
object Report {

  /** (name, unit); BENCHMARK.json lists the same names. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "call_s" -> "s", "transform_rows_per_s" -> "rows/s", "persist_s" -> "s",
    "setup_s" -> "s", "heap_live_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Seq("setup", "sample", "knn", "weight", "driver").map(p => s"ml.fit.${p}_s" -> "s") ++
    Seq("ml.fit.jobs" -> "count", "ml.fit.tasks" -> "count", "ml.fit.task_s" -> "s",
      "ml.fit.core_util" -> "ratio", "ml.fit.shuffle_bytes" -> "bytes", "ml.fit.gc_s" -> "s",
      "ml.transform_s" -> "s", "ml.save_s" -> "s", "ml.load_s" -> "s") ++
    EngineOps.Ops.flatMap(op => Seq(s"ops.$op.s" -> "s", s"ops.$op.build_s" -> "s",
      s"ops.$op.exec_s" -> "s", s"ops.$op.jobs" -> "count")) ++
    Seq("ops.task_s" -> "s", "ops.shuffle_bytes" -> "bytes", "ops.gc_s" -> "s",
      "ops.core_util" -> "ratio", "trace.call_s_ratio" -> "ratio")

  private def summary(xs: Seq[Double]): ListMap[String, Any] = ListMap(
    "n" -> xs.size, "median" -> Stats.median(xs),
    "tail" -> Stats.tailPercentile(xs).map { case (p, v) => ListMap("p" -> p, "value" -> v) },
    "values" -> xs)

  def emit(r: Main.Run, setupS: Double, root: Path): String = {
    def med(k: String) = r.samples.get(k).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).getOrElse(Double.NaN)
    val metrics: Seq[(String, Double, String)] =
      if (!r.opts.trace) EndToEnd.map { case (k, u) =>
        val v = k match {
          case "setup_s" => setupS
          case "heap_live_peak_mb" => r.heapPeakMb
          case _ => med(k)
        }
        (k, v, u)
      } else PerLayer.map { case (k, u) =>
        val v = k match {
          case "trace.call_s_ratio" => med("call_s_traced") / med("call_s")
          case _ => r.layer.get(k).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0) // layer not run here
        }
        (k, v, u)
      }
    val metricsJson = ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*)
    val failedShare = r.failed.toDouble / math.max(1L, r.attempted)
    val tag = s"${r.opts.workload}-seed${r.opts.seed}-trace${if (r.opts.trace) 1 else 0}"
    val dir = root.resolve(".bench_build").resolve("reports")
    Files.createDirectories(dir)
    val report = ListMap(
      "workload" -> r.opts.workload, "seed" -> r.opts.seed, "input_variant" -> r.variant,
      "cores" -> Main.cores, "seconds" -> r.opts.seconds, "setup_s" -> setupS,
      "attempted" -> r.attempted, "failed" -> r.failed, "failed_share" -> failedShare,
      "failures" -> r.failures.toSeq,
      "samples" -> ListMap(r.samples.toSeq.map { case (k, xs) => k -> summary(xs.toSeq) }: _*),
      "layers" -> ListMap(r.layer.toSeq.map { case (k, xs) => k -> summary(xs.toSeq) }: _*),
      "metrics" -> metricsJson)
    Files.write(dir.resolve(s"$tag.json"), (Json.render(report) + "\n").getBytes("UTF-8"))
    if (r.opts.trace)
      Files.write(dir.resolve(s"$tag.trace.json"),
        r.tracer.spansJson().mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    r.samples.foreach { case (k, xs) =>
      val tail = Stats.tailPercentile(xs.toSeq).map { case (p, v) => f", p$p $v%.4f" }.getOrElse("")
      System.err.println(f"$k: median ${Stats.median(xs.toSeq)}%.4f$tail (n=${xs.size})")
    }
    r.failures.foreach(f => System.err.println(s"failed: $f"))
    System.err.println(f"failed_share: $failedShare%.4f (${r.failed} of ${r.attempted})")
    Json.render(ListMap(
      "correct" -> (r.failed == 0), "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> metricsJson))
  }
}
