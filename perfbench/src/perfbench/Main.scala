package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ml.ReliefFRSelectorModel

/** The benchmark: one workload per run, in one JVM on `local[N]`.
  *
  * `--workload W --seed S --seconds T --trace 0|1`
  *
  * Set-up (session start, input generation and caching, warm-up) is
  * timed on its own. The measured part repeats the workload's calls
  * until T seconds have passed and checks every output. The last
  * stdout line is the result object; a fuller report and, with
  * `--trace 1`, the span trace go to `.bench_build/reports/`.
  */
object Main {

  /** Inputs come from `seed mod Variants`, so every input a run can see
    * has a stored expected digest in `perfbench/expected.tsv`.
    */
  val Variants = 16

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    require(args.length % 2 == 0 && m.keySet.subsetOf(Set("workload", "seed", "seconds", "trace")) &&
      m.contains("workload"), s"usage: --workload W --seed N --seconds S --trace 0|1; got ${args.mkString(" ")}")
    Opts(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1")
  }

  /** Everything one run measured, before it is reduced to metrics. */
  final class Run(val opts: Opts, val spark: SparkSession, val work: Path) {
    val variant: Int = java.lang.Math.floorMod(opts.seed, Variants.toLong).toInt
    val tracer = new Tracer(spark.sparkContext)
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer[String]()
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var heapPeakMb = 0.0
    var tracing = false
    lazy val expected: Gate.Expected = {
      val f = Paths.get("perfbench", "expected.tsv")
      if (Files.exists(f)) Gate.parseExpected(Files.readAllLines(f).asScala.iterator) else Map.empty
    }

    def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    def layerSample(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer()) += v

    /** Counts one attempted operation; a thrown exception or a gate miss
      * counts it as failed. Every attempt counts, none is retried.
      */
    def attempt(what: String)(body: => Unit): Unit = {
      attempted += 1
      try body
      catch {
        case NonFatal(e) =>
          fail(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }

    def fail(why: String): Unit = { failed += 1; if (failures.size < 50) failures += why }

    /** Checks `actual` against the value stored for this input. */
    def expect(key: String, actual: String): Option[String] =
      Gate.check(expected, opts.workload, variant, key, actual)

    def gcSeconds: Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

    /** Live heap after full GCs; the peak over the measured part.
      * Spark's ContextCleaner frees broadcasts, shuffles and checkpoint
      * blocks asynchronously once a GC finds their owners unreachable,
      * so the lowest of three GC rounds is the live set without that
      * pending garbage (a single round read 95 or 130 MB at random).
      */
    def heapCheckpoint(): Unit = {
      val used = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(100)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      }.min
      heapPeakMb = math.max(heapPeakMb, used)
    }

    /** Starts the listener; calls made from now on feed the per-layer metrics. */
    def startTracing(): Unit = {
      spark.sparkContext.addSparkListener(tracer)
      tracer.listening = true
      tracing = true
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("work").resolve(s"${ProcessHandle.current().pid()}")
    Files.createDirectories(work.resolve("tmp"))
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val run = new Run(opts, spark, work)
    val outcome =
      try {
        val setupRest = opts.workload match {
          case w if ReliefWorkloads.all.contains(w) => ReliefWorkloads.run(run, ReliefWorkloads.all(w))
          case EngineOps.Name => EngineOps.run(run)
          case w => throw new IllegalArgumentException(
            s"unknown workload $w; known: ${(ReliefWorkloads.all.keys ++ Seq(EngineOps.Name)).mkString(", ")}")
        }
        Right(sessionS + setupRest)
      } catch { case NonFatal(e) => Left(e) }
    spark.stop()
    deleteTree(work)
    outcome match {
      case Left(e) =>
        e.printStackTrace()
        System.exit(2)
      case Right(setupS) => println(Report.emit(run, setupS, root))
    }
  }

  /** Task slots: the machine's cores, at most 4. */
  val cores: Int = math.min(Runtime.getRuntime.availableProcessors(), 4)

  /** A local session whose every file lands under `work`. */
  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.ann.indexDir", work.resolve("ann").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))

  /** Seconds `body` takes, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val out = body; (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Median of `reps` timed repetitions of `body`; keeps the last result. */
  def medianOf[T](reps: Int)(body: => T): (T, Double) = {
    val rs = (1 to reps).map(_ => timed(body))
    (rs.last._1, Stats.median(rs.map(_._2)))
  }

  /** A RELIEF model's observable state, for the persistence gate. */
  def modelFields(m: ReliefFRSelectorModel): Seq[Any] =
    Seq(m.uid, m.stdSelection.toSeq, m.redundancySelection.toSeq, m.numFeatures,
      m.defaultWeight, m.weightedFeatures.toSeq, m.weightedValues.toSeq,
      m.getOrDefault(m.inputCol), m.getOrDefault(m.outputCol), m.getOrDefault(m.labelCol),
      m.getOrDefault(m.redundancyRemoval))

  /** A transform of one copy of an input took ~55 ms, most of it per-job
    * overhead that swung with the host's load; a transform of eight
    * copies (the cached input, unioned) is mostly per-row work.
    */
  val TransformCopies = 8
  val TransformsPerCall = 5
  /** A save+load takes ~0.6 s; two per call give its median more samples. */
  val PersistsPerCall = 2

  /** Times transforms into a noop sink, then save+load round trips, and
    * gates them; `sampleCheck` compares sampled rows with `compress`.
    */
  def modelCalls(run: Run, model: ReliefFRSelectorModel, input: DataFrame, nRows: Long,
      sampleCheck: Boolean, parent: Long = 0L): Unit = {
    val copies = (1 until TransformCopies).foldLeft(input)((df, _) => df.union(input))
    for (i <- 0 until TransformsPerCall) run.attempt("transform") {
      val (_, span) = run.tracer.call("transform", parent) { _ =>
        model.transform(copies).write.format("noop").mode("overwrite").save()
      }
      run.sample("transform_rows_per_s", TransformCopies * nRows / span.seconds)
      if (run.tracing) run.layerSample("ml.transform_s", span.seconds)
      if (sampleCheck && i == 0) {
        val sel = model.getSelectedFeatures().sorted
        val bad = model.transform(input.limit(64)).select(model.getOrDefault(model.inputCol), model.getOrDefault(model.outputCol))
          .collect().count(r => r.getAs[Vector](1) != ReliefFRSelectorModel.compress(r.getAs[Vector](0), sel))
        if (bad > 0) run.fail(s"transform: $bad of 64 sampled rows differ from compress")
      }
    }
    for (_ <- 0 until PersistsPerCall) run.attempt("persist") {
      val path = run.work.resolve("model").toString
      val (_, save) = run.tracer.call("save", parent) { _ => model.write.overwrite().save(path) }
      val (loaded, load) = run.tracer.call("load", parent) { _ => ReliefFRSelectorModel.load(path) }
      run.sample("persist_s", save.seconds + load.seconds)
      if (run.tracing) { run.layerSample("ml.save_s", save.seconds); run.layerSample("ml.load_s", load.seconds) }
      if (modelFields(loaded) != modelFields(model)) run.fail("persist: loaded model differs from the fitted one")
    }
  }
}
