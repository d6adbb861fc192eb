package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory event store of a traced run. Spark delivers listener events on
  * its own threads; everything here is appended under the object's lock and
  * read only after `SparkSession.stop()` has drained the listener bus.
  * Events carry Spark's own timestamps (epoch ms); the analysis attributes
  * them to benchmark ops by time window, which is exact because the
  * benchmark runs one op at a time.
  *
  * The listeners stay registered for the whole traced run, but record only
  * events stamped inside a traced pass ([[tracing]]). The plain passes in
  * between pay the dispatch of each event and one comparison, so the
  * difference between traced and plain passes prices the recording. */
object Recorder {

  /** Start of the traced pass in progress (epoch ms), or Long.MaxValue. */
  @volatile private var tracedFrom = Long.MaxValue
  /** Closed windows of earlier traced passes: events are handled on the
    * listener bus after the fact, possibly once their pass has ended. */
  @volatile private var closed = List.empty[(Long, Long)]

  def beginTraced(): Unit = tracedFrom = System.currentTimeMillis()

  def endTraced(): Unit = {
    closed = (tracedFrom, System.currentTimeMillis()) :: closed
    tracedFrom = Long.MaxValue
  }

  def tracing(ms: Long): Boolean =
    ms >= tracedFrom || closed.exists { case (s, e) => ms >= s && ms <= e }

  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Stage(id: Int, attempt: Int, tasks: Int, submitMs: Long,
                         endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         spillBytes: Long, inBytes: Long, inRows: Long,
                         outBytes: Long, outRows: Long, shWriteBytes: Long,
                         shWriteRows: Long, shReadBytes: Long, shReadRows: Long,
                         fetchWaitMs: Long, schedDelayMs: Long)
  final case class Sql(id: Long, startMs: Long, exchanges: Int,
                       broadcasts: Int, codegen: Int)
  final case class Batch(startMs: Long, durations: Map[String, Long],
                         stateCommitMs: Long, stateRows: Long,
                         stateMemBytes: Long)

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val batches = ArrayBuffer.empty[Batch]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val schedDelay = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val sqlStart = scala.collection.mutable.Map.empty[Long, Long]
  private val sqlPlan = scala.collection.mutable.Map.empty[Long, SparkPlanInfo]

  def sql: Seq[Sql] = synchronized {
    sqlStart.toSeq.sortBy(_._1).map { case (id, t) =>
      val nodes = sqlPlan.get(id).toSeq.flatMap(flatten)
      Sql(id, t, nodes.count(_ == "Exchange"),
        nodes.count(_ == "BroadcastExchange"),
        nodes.count(_.startsWith("WholeStageCodegen")))
    }
  }

  private def flatten(p: SparkPlanInfo): Seq[String] =
    p.nodeName +: p.children.flatMap(flatten)

  /** Job, stage, task and SQL-execution events (public SparkListener). */
  class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (tracing(e.time)) Recorder.synchronized { jobStarts(e.jobId) = e.time }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += Job(e.jobId, s, e.time))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null && tracing(e.taskInfo.launchTime)) {
        val i = e.taskInfo
        val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        val delay = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        Recorder.synchronized {
          val k = (e.stageId, e.stageAttemptId)
          schedDelay(k) = schedDelay.getOrElse(k, 0L) + delay
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null && tracing(s.submissionTime.getOrElse(0L))) Recorder.synchronized {
        val delay = schedDelay.remove((s.stageId, s.attemptNumber())).getOrElse(0L)
        stages += Stage(s.stageId, s.attemptNumber(), s.numTasks,
          s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
          m.shuffleReadMetrics.fetchWaitTime, delay)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if tracing(s.time) => Recorder.synchronized {
        sqlStart(s.executionId) = s.time
        sqlPlan(s.executionId) = s.sparkPlanInfo
      }
      // adaptive re-plans replace the plan; the last one is what ran
      case u: SparkListenerSQLAdaptiveExecutionUpdate => Recorder.synchronized {
        if (sqlStart.contains(u.executionId)) sqlPlan(u.executionId) = u.sparkPlanInfo
      }
      case _ => ()
    }
  }
}

/** Micro-batch progress of every streaming query. Registered through the
  * static `spark.sql.streaming.streamingQueryListeners` conf, so each
  * session's query manager (including `newSession()` clones, where the
  * engine's streaming queries run) builds its own instance; all of them
  * record into [[Recorder]]. */
class StreamRecorder extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    if (Recorder.tracing(startMs)) {
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      val b = Recorder.Batch(startMs, d,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum)
      Recorder.synchronized { Recorder.batches += b }
    }
  }
}
