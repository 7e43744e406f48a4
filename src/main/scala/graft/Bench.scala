package graft

import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement main: times every `SparkEntry.queries` operator
  * (or the `SPARK_GRAFT_QUERIES` prefixes) over `SPARK_GRAFT_BENCH_RUNS`
  * interleaved passes at `SPARK_GRAFT_SF_DIR`, and records for each
  * query the scheduler counters of its fastest run (jobs, stages,
  * tasks, task-seconds, shuffle and spill bytes, and the split between
  * building the frame and executing it) plus how many runs failed.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One repetition: `build_s` is the `fn(spark, dir)` call (eager
    * work: checkpoints, driver counts, `buildOnce`), `exec_s` the noop
    * write; the counters cover every job the scheduler ran in between.
    */
  private[graft] final case class Run(
      buildS: Double, execS: Double, jobs: Long, stages: Long, tasks: Long,
      taskS: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def sec: Double = buildS + execS
  }

  /** A query's repetitions: the fastest successful one, the number
    * that failed, and the last failure's message.
    */
  private[graft] final case class Outcome(best: Option[Run], errRuns: Int, error: Option[String])

  /** Counts every job, stage and task the scheduler reports.
    * [[settle]] runs a one-task marker job and returns the counts since
    * the previous settle, read on the listener thread when the marker
    * job starts: the bus delivers events in the order they were posted,
    * so every event of the work before the marker is in, and the
    * marker's own stage and task are left out.
    */
  private final class Counters(sc: SparkContext) extends SparkListener {
    private val MarkerKey = "graft.bench.marker"
    private var jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill = 0L
    private var markerStages = Set.empty[Int]
    @volatile private var pending = Promise[Run]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(MarkerKey) != null) {
        markerStages = e.stageIds.toSet
        pending.success(Run(0.0, 0.0, jobs, stages, tasks, taskMs / 1e3,
          shuffleRead, shuffleWrite, spill))
        jobs = 0L; stages = 0L; tasks = 0L; taskMs = 0L
        shuffleRead = 0L; shuffleWrite = 0L; spill = 0L
      } else jobs += 1

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!markerStages(e.stageInfo.stageId)) stages += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!markerStages(e.stageId)) {
        tasks += 1
        if (e.taskInfo != null) taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.diskBytesSpilled
        }
      }

    def settle(): Run = {
      val p = Promise[Run]()
      pending = p
      sc.setLocalProperty(MarkerKey, "true")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      Await.result(p.future, Duration(60, TimeUnit.SECONDS))
    }
  }

  /** The timed loop: `nRuns` interleaved passes (pass 1 over every
    * query, then pass 2, ...), so a transient blip of the machine hits
    * different queries each pass instead of every run of one query.
    * The cache is cleared before each run, so every run does the full
    * work. A run that throws counts in its query's `errRuns`.
    */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)], nRuns: Int): Seq[(String, Outcome)] = {
    val sc = spark.sparkContext
    val counters = new Counters(sc)
    sc.addSparkListener(counters)
    val outcomes = mutable.LinkedHashMap.from(queries.map(_._1 -> Outcome(None, 0, None)))
    try {
      counters.settle()
      for (_ <- 1 to nRuns; (name, fn) <- queries) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        var t1 = t0
        // noop sink: materializes every row/column (count() would let
        // Catalyst prune the computation away) with zero write cost
        val failure =
          try {
            val df = fn(spark, sfDir)
            t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(message(e)) }
        val t2 = System.nanoTime()
        val run = counters.settle().copy(buildS = (t1 - t0) / 1e9, execS = (t2 - t1) / 1e9)
        val o = outcomes(name)
        outcomes(name) = failure match {
          case Some(msg) => o.copy(errRuns = o.errRuns + 1, error = Some(msg))
          case None if o.best.forall(_.sec > run.sec) => o.copy(best = Some(run))
          case None => o
        }
      }
    } finally sc.removeSparkListener(counters)
    outcomes.toSeq
  }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private[graft] def message(e: Throwable): String = Option(e.getMessage).getOrElse(e.getClass.getName)

  /** JSON string literal: escapes backslash, quote and every control
    * char (< 0x20), so no message or SQL text can break a reader's
    * `json.load`.
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // 3-decimal timings: full-precision doubles ballooned the per-query
  // line past a ~2000-char end-anchored log-tail capture at 128
  // queries (BENCH_r05/r06 recorded "parsed": null) — ms resolution
  // is plenty
  private def jnum(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def jobj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  /** The full result line (the `bench_results.json` content), the
    * chunk lines and the short summary line. A query with at least one
    * failed run counts in `n_errors` and names its last error; its
    * `queries` value is the fastest successful run, or "err" when
    * every run failed.
    */
  private[graft] def report(sfDir: String, nRuns: Int, outPath: String,
      outcomes: Seq[(String, Outcome)], floors: Seq[Double], fsFloors: Seq[Double],
      probeErrors: Map[String, String]): (String, Seq[String], String) = {
    val errors = probeErrors.toSeq ++
      outcomes.collect { case (k, o) if o.errRuns > 0 => k -> o.error.getOrElse("") }
    val value = outcomes.map { case (k, o) => k -> o.best.fold(jstr("err"))(r => jnum(r.sec)) }
    val detail = outcomes.map { case (k, o) =>
      k -> jobj(("err_runs" -> o.errRuns.toString) +: o.best.toSeq.flatMap { r => Seq(
        "build_s" -> jnum(r.buildS), "exec_s" -> jnum(r.execS), "jobs" -> r.jobs.toString,
        "stages" -> r.stages.toString, "tasks" -> r.tasks.toString, "task_s" -> jnum(r.taskS),
        "shuffle_read_bytes" -> r.shuffleReadBytes.toString,
        "shuffle_write_bytes" -> r.shuffleWriteBytes.toString,
        "spill_bytes" -> r.spillBytes.toString) })
    }
    val total = outcomes.flatMap(_._2.best).map(_.sec).sum
    val head = s""""metric":"total","value":${jnum(total)},"unit":"sec","n":${outcomes.size},"n_errors":${errors.size},"runs":$nRuns"""
    def series(xs: Seq[Double]) = xs.sorted.map(jnum).mkString("[", ",", "]")
    val fullLine = s"""{$head,"floor_sec":${jnum(median(floors))},"floor_series":${series(floors)},"fs_floor_sec":${jnum(median(fsFloors))},"fs_floor_series":${series(fsFloors)},"sf":${jstr(sfDir)},"queries":${jobj(value)},"errors":${jobj(errors.map { case (k, m) => k -> jstr(m.take(80)) })},"detail":${jobj(detail)}}"""
    // The full line is ~4 KB at 174 queries, past that tail capture,
    // so the per-query map is printed again as self-contained
    // ≤40-entry chunk lines, and a SHORT summary line comes last:
    // whatever suffix of the output survives the capture holds whole,
    // parseable JSON objects.
    val chunks = value.grouped(40).toSeq
    val chunkLines = chunks.zipWithIndex.map { case (grp, i) =>
      s"""{"metric":"chunk","i":$i,"n_chunks":${chunks.size},"queries":${jobj(grp)}}"""
    }
    // the summary caps its error maps so a mass failure cannot push the
    // line itself past the tail capture (full detail is in the file)
    val slowest = outcomes.flatMap { case (k, o) => o.best.map(r => k -> r.sec) }
      .sortBy(-_._2).take(10).map { case (k, s) => k -> jnum(s) }
    val errRuns = outcomes.collect { case (k, o) if o.errRuns > 0 => k -> o.errRuns.toString }
    val summary = s"""{$head,"sf":${jstr(sfDir)},"results_file":${jstr(outPath)},"slowest":${jobj(slowest)},"errors":${jobj(errors.take(5).map { case (k, m) => k -> jstr(m.take(60)) })},"err_runs":${jobj(errRuns.take(10))}}"""
    (fullLine, chunkLines, summary)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = LocalSession()
    // A/B harness hooks: SPARK_GRAFT_CONF="k=v;k=v" sets extra runtime
    // confs (e.g. spark.graft.scanFanOut=false); SPARK_GRAFT_QUERIES
    // ="d06,d07" restricts the run to a comma-separated subset of name
    // prefixes so a focused comparison doesn't pay the full pass per arm.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    val onlyQ = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.filter { case (n, _) =>
      onlyQ.forall(f => f.exists(n.startsWith))
    }
    // Untimed warmup at the smallest SF: pays JIT + codegen compilation
    // once so the timed pass measures the queries, not JVM warmup.
    val warmDir = "/root/testdata/sf0.001"
    queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val probeErrors = mutable.LinkedHashMap[String, String]()
    // The streaming-harness floor: the fixed query-start/stop +
    // micro-batch cost every s-operator pays regardless of its kernel,
    // recorded as floor_sec (the MEDIAN of the probes — a min is one
    // lucky probe; the floor swung 0.63<->1.26 s across full runs) so
    // bench_diff can compare streaming kernels NET of harness drift.
    // Probed only when a streaming query is selected. A probe failing
    // every run is recorded under the reserved "_floor" key.
    val needsFloor = queries.exists { case (n, _) => n.startsWith("s") || n == "w06_sink_streamed" }
    val floors = mutable.ArrayBuffer[Double]()
    if (needsFloor) for (_ <- 1 to nRuns) {
      val t0 = System.nanoTime()
      try {
        graft.streaming.Streams.streamFloorProbe(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        floors += (System.nanoTime() - t0) / 1e9
      } catch {
        case scala.util.control.NonFatal(e) => probeErrors("_floor") = message(e)
      }
    }
    if (floors.nonEmpty) probeErrors.remove("_floor")
    // The FS-metadata floor, same discipline: the w-family's table-format
    // ops are dominated by commit-protocol work (tiny parquet writes,
    // manifest renames, directory listings) whose latency swings with
    // the machine's state independent of any code change. The probe
    // performs one representative commit cycle through the same
    // committer and Hadoop FS API the sinks use; bench_diff compares
    // w-keys net of the run's own median.
    val needsFsFloor =
      queries.exists { case (n, _) => n.startsWith("w") && n != "w06_sink_streamed" }
    val fsFloors = mutable.ArrayBuffer[Double]()
    // one untimed warmup probe first: the session's FIRST parquet
    // write pays committer/codegen init (measured 6.3 s vs a 0.5-0.9 s
    // steady state) and would poison a 3-probe median
    if (needsFsFloor) for (warm <- 0 to nRuns) {
      val t0 = System.nanoTime()
      try {
        val probe = java.nio.file.Files.createTempDirectory("graft_fs_probe_")
        val t = new org.apache.hadoop.fs.Path(probe.toString, "t")
        val t2 = new org.apache.hadoop.fs.Path(probe.toString, "t2")
        spark.range(256).repartition(4).write.mode("overwrite").parquet(t.toString)
        val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
        fs.rename(t, t2)
        val it = fs.listFiles(t2, true)
        while (it.hasNext) it.next()
        fs.delete(new org.apache.hadoop.fs.Path(probe.toString), true)
        if (warm > 0) fsFloors += (System.nanoTime() - t0) / 1e9
      } catch {
        case scala.util.control.NonFatal(e) => probeErrors("_fs_floor") = message(e)
      }
    }
    if (fsFloors.nonEmpty) probeErrors.remove("_fs_floor")
    val outcomes = timeQueries(spark, sfDir, queries, nRuns)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json")
    val (fullLine, chunkLines, summary) =
      report(sfDir, nRuns, outPath, outcomes, floors.toSeq, fsFloors.toSeq, probeErrors.toMap)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"bench: could not write $outPath: ${e.getMessage}") }
    println(fullLine)
    chunkLines.foreach(println)
    println(summary)
    spark.stop()
  }
}
