package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._

/** A timed call the benchmark made into the program. */
final case class CallSpan(id: Long, parent: Long, name: String, startMs: Long, endMs: Long,
    seconds: Double)

final case class StageRec(id: Int, jobId: Int, startMs: Long, endMs: Long, nTasks: Int)

final case class TaskRec(stageId: Int, taskId: Long, startMs: Long, endMs: Long,
    runMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long)

/** In-memory trace: the benchmark's own call spans plus the job, stage
  * and task spans a [[SparkListener]] reports. Listener events arrive
  * on Spark's bus thread, so every buffer is guarded by `this`.
  * A job's parent is the innermost call span holding its start; a
  * stage's parent is its job, a task's its stage.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val calls = mutable.ArrayBuffer[CallSpan]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private var nextId = 1L
  /** Set once the tracer is registered as a listener. */
  @volatile var listening = false

  /** Times `body` as a call span; with `parent` 0 it is a root. */
  def call[T](name: String, parent: Long = 0L)(body: Long => T): (T, CallSpan) = {
    val id = synchronized { nextId += 1; nextId }
    val s = System.currentTimeMillis(); val t0 = System.nanoTime()
    val out = body(id)
    val secs = (System.nanoTime() - t0) / 1e9
    val e = System.currentTimeMillis()
    if (listening) BusDrain(sc)
    val span = CallSpan(id, parent, name, s, e, secs)
    synchronized { calls += span }
    (out, span)
  }

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val name = ev.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    jobs(ev.jobId) = JobRec(ev.jobId, ev.time, ev.time, ev.stageInfos.size, name)
    ev.stageIds.foreach(s => stageJob.getOrElseUpdate(s, ev.jobId))
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(ev.jobId).foreach(j => jobs(ev.jobId) = j.copy(endMs = ev.time))
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    val i = ev.stageInfo
    stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks)
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = synchronized {
    val m = ev.taskMetrics
    val (run, sw, sr) =
      if (m == null) (0L, 0L, 0L)
      else (m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead)
    tasks += TaskRec(ev.stageId, ev.taskInfo.taskId, ev.taskInfo.launchTime,
      ev.taskInfo.finishTime, run, sw, sr)
  }

  /** Jobs that started inside the span, in id order. */
  def jobsIn(span: CallSpan): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= span.startMs && j.startMs <= span.endMs).toSeq.sortBy(_.id)
  }

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = synchronized {
    val ids = js.map(_.id).toSet
    tasks.filter(t => stageJob.get(t.stageId).exists(ids)).toSeq
  }

  /** Every span as one JSON object per element, with causal parent ids. */
  def spansJson(): Seq[String] = synchronized {
    val callSeq = calls.toSeq
    def ownerOf(ms: Long): Long =
      callSeq.filter(c => c.startMs <= ms && ms <= c.endMs)
        .sortBy(c => c.endMs - c.startMs).headOption.map(_.id).getOrElse(0L)
    val c = callSeq.map(s => Json.render(Map("id" -> s"c${s.id}", "parent" ->
      (if (s.parent == 0) null else s"c${s.parent}"), "kind" -> "call", "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)))
    val j = jobs.values.toSeq.map(r => Json.render(Map("id" -> s"j${r.id}", "parent" -> {
      val o = ownerOf(r.startMs); if (o == 0) null else s"c$o" }, "kind" -> "job",
      "name" -> r.name, "start_ms" -> r.startMs, "end_ms" -> r.endMs, "stages" -> r.nStages)))
    val s = stages.toSeq.map(r => Json.render(Map("id" -> s"s${r.id}", "parent" -> s"j${r.jobId}",
      "kind" -> "stage", "start_ms" -> r.startMs, "end_ms" -> r.endMs, "tasks" -> r.nTasks)))
    val t = tasks.toSeq.map(r => Json.render(Map("id" -> s"t${r.taskId}", "parent" -> s"s${r.stageId}",
      "kind" -> "task", "start_ms" -> r.startMs, "end_ms" -> r.endMs, "run_ms" -> r.runMs,
      "shuffle_write_bytes" -> r.shuffleWriteBytes, "shuffle_read_bytes" -> r.shuffleReadBytes)))
    c ++ j ++ s ++ t
  }
}
