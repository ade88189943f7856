package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Events copied off Spark's public listener buses, stamped with the
  * harness clock (`System.nanoTime`) when the bus delivers them. The
  * listeners are registered through Spark confs set as system properties
  * before `graft.Main` builds its session, so the `watch` wiring is not
  * touched.
  */
object Tap {
  final case class Started(nanos: Long, id: java.util.UUID)
  final case class Progress(nanos: Long, p: StreamingQueryProgress)
  final case class JobStart(jobId: Int, timeMs: Long, stageIds: Seq[Int],
                            batch: Long, queryId: String)
  final case class JobEnd(jobId: Int, timeMs: Long)
  final case class StageDone(stageId: Int, numTasks: Int, submitMs: Long,
                             doneMs: Long, cpuNanos: Long, shuffleWriteBytes: Long)

  val started = new ConcurrentLinkedQueue[Started]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  val jobStarts = new ConcurrentLinkedQueue[JobStart]()
  val jobEnds = new ConcurrentLinkedQueue[JobEnd]()
  val stages = new ConcurrentLinkedQueue[StageDone]()
}

/** Progress tap, on in every run: epochs, offsets and phase durations. */
class ProgressTap extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Tap.started.add(Tap.Started(System.nanoTime(), e.id))
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    Tap.progress.add(Tap.Progress(System.nanoTime(), e.progress))
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Job/stage tap, on only in traced runs. Jobs are attributed to epochs by
  * the micro-batch local properties Spark sets on the stream thread.
  */
class JobTap extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    Tap.jobStarts.add(Tap.JobStart(e.jobId, e.time, e.stageIds,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("sql.streaming.queryId").getOrElse("")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Tap.jobEnds.add(Tap.JobEnd(e.jobId, e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    Tap.stages.add(Tap.StageDone(si.stageId, si.numTasks,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      if (tm == null) 0L else tm.executorCpuTime,
      if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten))
  }
}
