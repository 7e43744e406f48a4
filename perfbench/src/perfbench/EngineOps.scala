package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.Row

import graft.ml.{ReliefFRSelector, ReliefQueries}
import Main.{Run, medianOf, modelCalls, timed}

/** Registered engine operators (`SparkEntry.queries`) over generated
  * tables in the engine's schema. These operators spend most of their
  * time in driver round trips (tens of small jobs each), not in data.
  */
object EngineOps {
  val Name = "engine_ops"

  /** graft.sim's top-k serving tail (e06), graft.graph's iterative
    * PageRank (g04, about 77 small jobs) and graft.ml's RELIEF operator.
    * Operators that stage files under fixed /tmp paths (the w-family,
    * relief_persist) are left out: the benchmark writes only inside its
    * own tree.
    */
  val Ops: Seq[String] = Seq("e06_ann_index_serve", "g04_user_pagerank", "relief_weights")

  /** Table scale: rows relative to the engine's sf1 layout. */
  val Sf = 0.01

  def run(r: Run): Double = {
    val spark = r.spark
    val dir = r.work.resolve("tables")
    Files.createDirectories(dir)
    val (_, genS) = medianOf(2)(Inputs.engineTables(spark, r.variant.toLong, Sf, dir))
    val registry = graft.SparkEntry.queries
    val ops = Ops.map(o => o -> registry(o))

    // the RELIEF model whose transform and save/load every pass times,
    // fitted on the embeddings table as relief_weights does
    val emb = ReliefQueries.assembled(spark, dir.toString).cache()
    val nEmb = emb.count()
    val (model, fitS) = timed(new ReliefFRSelector().setInputCol("features").setLabelCol("label")
      .setOutputCol("selected").setNumNeighbors(3).setBatchSize(0.5)
      .setRedundancyRemoval(true).setInstanceIdCol("vec_id").fit(emb))

    val refs = mutable.HashMap[String, String]()
    def pass(measured: Boolean): Unit = {
      val gc0 = r.gcSeconds
      // a failed call's time stays in the pass; its gate runs after the pass
      val results = mutable.ArrayBuffer[(String, Either[Throwable, (Array[Row], CallSpan)])]()
      val (_, passSpan) = r.tracer.call("ops_pass") { pid =>
        ops.foreach { case (op, fn) =>
          results += op -> (try Right(r.tracer.call(op, pid) { oid =>
            val (df, build) = r.tracer.call(s"$op.build", oid)(_ => fn(spark, dir.toString))
            val (rows, exec) = r.tracer.call(s"$op.exec", oid)(_ => df.collect())
            if (r.tracing) {
              r.layerSample(s"ops.$op.build_s", build.seconds)
              r.layerSample(s"ops.$op.exec_s", exec.seconds)
            }
            rows
          }) catch { case NonFatal(e) => Left(e) })
        }
      }
      results.foreach { case (op, res) =>
        r.attempt(op) {
          val (rows, opSpan) = res.fold(e => throw e, identity)
          if (r.tracing) {
            r.layerSample(s"ops.$op.s", opSpan.seconds)
            r.layerSample(s"ops.$op.jobs", r.tracer.jobsIn(opSpan).size)
          }
          val got = Gate.fmtRowHash(Gate.rowHash(rows))
          refs.get(op) match {
            case None =>
              refs(op) = got
              r.expect(op, got).foreach(r.fail)
            case Some(want) =>
              if (want != got) r.fail(s"$op: rows $got differ from the first pass's $want")
          }
        }
      }
      if (measured) {
        if (r.tracing) {
          r.sample("call_s_traced", passSpan.seconds)
          val jobs = r.tracer.jobsIn(passSpan)
          val tasks = r.tracer.tasksOf(jobs)
          val taskS = tasks.map(_.runMs).sum / 1e3
          r.layerSample("ops.task_s", taskS)
          r.layerSample("ops.shuffle_bytes", tasks.map(_.shuffleWriteBytes).sum.toDouble)
          r.layerSample("ops.gc_s", r.gcSeconds - gc0)
          r.layerSample("ops.core_util", taskS / (Main.cores * passSpan.seconds))
        } else r.sample("call_s", passSpan.seconds)
        modelCalls(r, model, emb, nEmb, sampleCheck = !r.samples.contains("transform_rows_per_s"))
        r.heapCheckpoint()
      }
    }

    // Passes keep speeding up for a while, and the first pass after
    // model calls ran ~25% slow: the warm-up alternates the two as the
    // window does
    val (_, warmS) = timed {
      for (_ <- 1 to ReliefWorkloads.WarmRounds) {
        pass(measured = false)
        modelCalls(r, model, emb, nEmb, sampleCheck = false)
      }
    }
    r.samples.clear()
    System.err.println(f"setup: tables ${genS}%.3f s (median of 2), model ${fitS}%.3f s, warm-up ${warmS}%.3f s")

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var iters = 0; var tracedIters = 0
    while (elapsed < r.opts.seconds || iters < 3 || (r.opts.trace && tracedIters < 2)) {
      if (r.opts.trace && !r.tracing && elapsed >= r.opts.seconds / 2 && iters >= 3) r.startTracing()
      pass(measured = true)
      iters += 1
      if (r.tracing) tracedIters += 1
    }
    emb.unpersist(true)
    genS + fitS + warmS
  }
}
