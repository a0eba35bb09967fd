package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span: a layer's interval, wall-clock ms, and the span that
  * caused it. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
  startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
}

object Span {
  /** Self time per layer, seconds: each span's duration minus the part
    * of its interval that its children cover. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var sum = 0.0
        var (lo, hi) = (Double.NaN, Double.NaN)
        covered.foreach { case (a, b) =>
          if (lo.isNaN || a > hi) { if (!lo.isNaN) sum += hi - lo; lo = a; hi = b }
          else hi = math.max(hi, b)
        }
        if (!lo.isNaN) sum += hi - lo
        s.durMs - sum
      }.sum / 1000.0
    }
  }
}

final case class StageRec(stageId: Int, attempt: Int, name: String,
  submitMs: Long, endMs: Long, cpuNs: Long, shuffleWriteBytes: Long)

final case class TaskRec(stageId: Int, attempt: Int, launchMs: Long,
  endMs: Long, runMs: Long, recordsRead: Long)

/** A job and the micro-batch that ran it. A job's result stage is
  * created last, so it has the highest stage id. */
final case class JobRec(jobId: Int, batchId: Option[Long], stageIds: Seq[Int]) {
  def resultStage: Int = stageIds.max
}

/** Stage, task and job records for the traced run. Streaming jobs
  * carry their micro-batch id as a local property. */
final class StageTrace extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.stageIds.nonEmpty) jobs.add(JobRec(e.jobId,
      Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(_.toLong), e.stageIds))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages.add(StageRec(i.stageId, i.attemptNumber(), i.name,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    tasks.add(TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)))
  }

  def jobList: Seq[JobRec] = jobs.asScala.toSeq
  def stageList: Seq[StageRec] = stages.asScala.toSeq
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq

  /** Micro-batch of each stage. */
  def stageBatch: Map[Int, Long] =
    jobList.flatMap(j => j.batchId.toSeq.flatMap(b => j.stageIds.map(_ -> b))).toMap

  /** Result stages of the framing and sink jobs. `Main.start`'s batch
    * function runs two jobs per micro-batch: the stale-marker collect,
    * whose result stage runs the stateful framing and CloudEvent
    * projection into the persisted batch, then the ordered puts, whose
    * result stage walks each key's records into the sink. */
  def framingAndSinkStages: (Set[Int], Set[Int]) = {
    val perBatch = jobList.filter(_.batchId.isDefined).groupBy(_.batchId.get).values
      .map(_.sortBy(_.jobId)).filter(_.size >= 2)
    (perBatch.map(_.head.resultStage).toSet, perBatch.map(_.last.resultStage).toSet)
  }
}

/** Collects spans in memory; written out when the run ends. */
final class SpanLog {
  private var next = 0L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  def add(parent: Long, layer: String, name: String, startMs: Double,
      endMs: Double, attrs: Map[String, Any] = Map.empty): Long = synchronized {
    next += 1
    spans += Span(next, parent, layer, name, startMs, endMs, attrs)
    next
  }
}
