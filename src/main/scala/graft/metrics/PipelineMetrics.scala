package graft.metrics

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-stage / per-partition metrics for the pipeline (north rule: "emits
  * per-partition parse/route/skew metrics via SparkListener accumulators").
  *
  * Collects task-level records/bytes/time and derives a skew ratio
  * (max task time / median task time) per stage — the signal that the route
  * stage's writer tasks (the input's splits, never keyed by source) are
  * actually defeating source skew.
  */
class PipelineMetrics extends SparkListener {

  final case class TaskSample(durationMs: Long, recordsRead: Long,
      recordsWritten: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  private val tasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[TaskSample]]()
  private val stageNames = new ConcurrentHashMap[Int, String]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val sample = TaskSample(
        durationMs = e.taskInfo.duration,
        recordsRead = m.inputMetrics.recordsRead,
        recordsWritten = m.outputMetrics.recordsWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten)
      tasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty)
        .synchronized { tasks.get(e.stageId) += sample }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageNames.put(e.stageInfo.stageId, e.stageInfo.name.takeWhile(_ != '\n'))

  final case class StageSummary(stageId: Int, name: String, tasks: Int,
      recordsRead: Long, recordsWritten: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      maxTaskMs: Long, medianTaskMs: Long) {
    def skewRatio: Double =
      if (medianTaskMs <= 0) 1.0 else maxTaskMs.toDouble / medianTaskMs
  }

  def summary(): Seq[StageSummary] =
    tasks.asScala.toSeq.sortBy(_._1).map { case (id, ts) =>
      val durs = ts.map(_.durationMs).sorted
      StageSummary(id, stageNames.getOrDefault(id, ""), ts.size,
        ts.map(_.recordsRead).sum, ts.map(_.recordsWritten).sum,
        ts.map(_.shuffleReadBytes).sum, ts.map(_.shuffleWriteBytes).sum,
        if (durs.isEmpty) 0 else durs.last,
        if (durs.isEmpty) 0 else durs(durs.size / 2))
    }

  def toJson: String = summary().map { s =>
    s"""{"stage":${s.stageId},"tasks":${s.tasks},"records_read":${s.recordsRead},"records_written":${s.recordsWritten},"shuffle_read_bytes":${s.shuffleReadBytes},"shuffle_write_bytes":${s.shuffleWriteBytes},"max_task_ms":${s.maxTaskMs},"median_task_ms":${s.medianTaskMs},"skew_ratio":${f"${s.skewRatio}%.2f"}}"""
  }.mkString("[", ",", "]")

  def reset(): Unit = { tasks.clear(); stageNames.clear() }
}
