package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What the engine did, observed from outside: a `SparkListener` for
  * jobs, stages and tasks and a `StreamingQueryListener` for stream
  * triggers. Records carry Spark's own wall-clock times; the client runs
  * one operation at a time, so each record belongs to the operation
  * whose window contains its start. */
final class EngineProbe {
  import EngineProbe._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val triggers = new ConcurrentLinkedQueue[TriggerRec]()
  private val jobStarts = TrieMap.empty[Int, (Long, Seq[Int])]
  private val submitted = TrieMap.empty[(Int, Int), Long]
  private val schedDelayMs = TrieMap.empty[(Int, Int), Long]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time, e.stageIds))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach { case (t0, ids) =>
        jobs.add(JobRec(e.jobId, t0, e.time, ids))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = e.stageInfo
      submitted.put((s.stageId, s.attemptNumber()),
        s.submissionTime.getOrElse(System.currentTimeMillis()))
    }

    // Scheduler delay as the Spark UI computes it: the part of a task's
    // wall time spent neither deserializing, running, serializing the
    // result nor fetching it.
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null && i.finishTime > 0) {
        val d = math.max(0L, (i.finishTime - i.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime -
          (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime
           else 0L))
        val k = (e.stageId, e.stageAttemptId)
        schedDelayMs.put(k, schedDelayMs.getOrElse(k, 0L) + d)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val k = (s.stageId, s.attemptNumber())
      val t0 = submitted.remove(k)
        .orElse(s.submissionTime).getOrElse(0L)
      val m = s.taskMetrics
      stages.add(StageRec(s.stageId, t0,
        s.completionTime.getOrElse(System.currentTimeMillis()),
        s.numTasks,
        schedDelayMs.remove(k).getOrElse(0L),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators.toSeq
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      triggers.add(TriggerRec(p.runId.toString, p.batchId, t0,
        t0 + d.getOrElse("triggerExecution", 0L),
        d.getOrElse("addBatch", 0L),
        d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
        ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
        ops.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Stops observing once every event posted so far is delivered. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }
}

object EngineProbe {
  final case class JobRec(id: Int, startMs: Long, endMs: Long,
      stageIds: Seq[Int])
  final case class StageRec(id: Int, startMs: Long, endMs: Long,
      tasks: Int, schedDelayMs: Long, runMs: Long, cpuNs: Long,
      shuffleBytes: Long, spillBytes: Long)
  final case class TriggerRec(runId: String, batchId: Long, startMs: Long,
      endMs: Long, addBatchMs: Long, commitMs: Long, stateRows: Long,
      stateRowsUpdated: Long, stateMemBytes: Long)
}
