package graftbench

import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder for the traced run.
  *
  * The harness opens run → pass → query → {build, plan, exec} spans
  * itself and tags every Spark job with the enclosing phase span through
  * the `graftbench.span` local property; the listeners below hang job and
  * stage spans under that tag. Task metrics are summed per stage. Stream
  * progress is kept raw and tied to its query span by trigger time when
  * the record is read. Nothing is written until the run ends.
  */
final class Trace {
  import Trace._

  /** Epoch microseconds on the monotonic clock, comparable with the
    * listener's epoch-millisecond event times.
    */
  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epoch0Us + (System.nanoTime() - nano0) / 1000L

  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  def open(parent: Long, kind: String, name: String): Span = synchronized {
    nextId += 1
    val s = Span(nextId, parent, kind, name, nowUs())
    spans += s
    s
  }

  def close(s: Span): Unit = s.endUs = nowUs()

  /** The pass being traced; driver-side SQL metrics are summed onto it. */
  @volatile var currentPass: Option[Span] = None

  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSpans = mutable.Map.empty[(Int, Int), Span]
  /** Accumulator ids of the scans' "size of files read" metric. Task
    * input bytes came out far below the files' size for parquet scans of
    * a local file system, so the scan's own metric gives the read volume.
    */
  private val filesReadIds = mutable.Set.empty[Long]

  private def registerScans(plan: SparkPlanInfo): Unit = {
    plan.metrics.filter(_.name == FilesReadMetric).foreach(m => filesReadIds += m.accumulatorId)
    plan.children.foreach(registerScans)
  }

  /** Spark listener: job and stage spans plus per-stage task sums. Every
    * callback takes the recorder's lock, which the harness thread shares.
    */
  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      val s = open(tag.map(_.toLong).getOrElse(0L), "job", s"job ${e.jobId}")
      s.startUs = e.time * 1000L
      jobSpans(e.jobId) = s
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpans.get(e.jobId).foreach(_.endUs = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      val parent = stageJob.get(info.stageId).flatMap(jobSpans.get).map(_.id).getOrElse(0L)
      val s = open(parent, "stage", s"stage ${info.stageId}.${info.attemptNumber()}")
      info.submissionTime.foreach(t => s.startUs = t * 1000L)
      stageSpans((info.stageId, info.attemptNumber())) = s
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      stageSpans.get((info.stageId, info.attemptNumber())).foreach { s =>
        s.endUs = info.completionTime.map(_ * 1000L).getOrElse(nowUs())
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => registerScans(s.sparkPlanInfo)
        case a: SparkListenerSQLAdaptiveExecutionUpdate => registerScans(a.sparkPlanInfo)
        case d: SparkListenerDriverAccumUpdates =>
          for ((id, v) <- d.accumUpdates if filesReadIds.contains(id); p <- currentPass)
            p.add("files_read_bytes", v)
        case _ =>
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageSpans.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val m = e.taskMetrics
        val info = e.taskInfo
        s.add("tasks", 1)
        if (info.failed || info.killed) s.add("failed_tasks", 1)
        s.add("task_ms", info.duration)
        if (m != null) {
          s.add("run_ms", m.executorRunTime)
          s.add("deser_ms", m.executorDeserializeTime)
          s.add("result_ser_ms", m.resultSerializationTime)
          s.add("cpu_ns", m.executorCpuTime)
          s.add("gc_ms", m.jvmGCTime)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
          s.add("spill_disk_bytes", m.diskBytesSpilled)
          s.add("spill_mem_bytes", m.memoryBytesSpilled)
          s.add("read_rows", m.inputMetrics.recordsRead)
          s.add("write_bytes", m.outputMetrics.bytesWritten)
          s.add("write_rows", m.outputMetrics.recordsWritten)
        }
      }
    }
  }

  /** Streaming listener: one record per trigger, with its phase times
    * and state-store figures, keyed by the trigger's start time.
    */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = p.stateOperators.toSeq
      val rec = Map[String, Any](
        "run_id" -> p.runId.toString,
        "batch" -> p.batchId,
        "start_us" -> Instant.parse(p.timestamp).toEpochMilli * 1000L,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_bytes" -> state.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> state.map(_.commitTimeMs).sum)
      Trace.this.synchronized { progress += rec }
    }
  }

  def json: Map[String, Any] = synchronized {
    Map("spans" -> spans.map(_.json).toSeq, "stream_progress" -> progress.toSeq)
  }
}

object Trace {
  val SpanProperty = "graftbench.span"
  val FilesReadMetric = "size of files read"

  final case class Span(id: Long, parent: Long, kind: String, name: String, var startUs: Long) {
    var endUs: Long = -1L
    val attrs = mutable.LinkedHashMap.empty[String, Any]
    def add(key: String, v: Long): Unit =
      attrs(key) = attrs.getOrElse(key, 0L).asInstanceOf[Long] + v
    def json: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs.toMap)
  }
}
