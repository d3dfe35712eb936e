package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}
import scala.collection.mutable

/** Per-query execution statistics under Bench's exact session.
  *
  *   - `plan`: run the query, then print its formatted final (post-AQE)
  *     plan.
  *   - `time`: three passes over the queries; per pass and query, the
  *     seconds to build and plan the DataFrame (eager actions taken
  *     while building included) vs the seconds of Bench's timed
  *     `count()`.
  *   - `profile`: one warm pass, then one measured pass under a single
  *     SparkListener: totals (jobs, stages, tasks, task time, GC,
  *     shuffle read/write, spill), then one line per job (wall, gap
  *     since the previous job ended, tasks, task time, call site).
  *
  * Usage: scripts/run_class.sh graft.Probe <plan|time|profile> <sfDir> <query...>
  */
object Probe {

  private val Modes = Seq("plan", "time", "profile")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      s"usage: graft.Probe <${Modes.mkString("|")}> <sfDir> <query...>")
    val spark = Sessions.local(Sessions.cpus(32))
    try run(spark, args(0), args(1), args.toSeq.drop(2))
    finally spark.stop()
  }

  def run(spark: SparkSession, mode: String, dir: String, names: Seq[String]): Unit = {
    require(Modes.contains(mode),
      s"Probe: unknown mode '$mode' (expected ${Modes.mkString("|")})")
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"Probe: unknown query ${unknown.mkString(", ")}")
    mode match {
      case "plan" => names.foreach { name =>
        val qe = queries(name)(spark, dir).queryExecution
        SQLExecution.withNewExecutionId(qe, Some(s"probe $name"))(qe.toRdd.count())
        println(s"=== $name @ $dir ===")
        println(qe.explainString(ExplainMode.fromString("formatted")))
      }
      case "time" => for (pass <- 1 to 3; name <- names) {
        val t0 = System.nanoTime()
        val df = queries(name)(spark, dir)
        df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        val rows = df.count()
        val t2 = System.nanoTime()
        println(f"$name%-32s pass$pass build+plan ${(t1 - t0) / 1e9}%7.3f s  " +
          f"exec ${(t2 - t1) / 1e9}%7.3f s  ($rows rows)")
      }
      case "profile" =>
        val rec = new Recorder
        val sc = spark.sparkContext
        sc.addSparkListener(rec)
        try names.foreach { name =>
          queries(name)(spark, dir).count() // warm: JIT, codegen cache, footers
          rec.drain(sc)
          rec.reset()
          val t0 = System.nanoTime()
          queries(name)(spark, dir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          rec.drain(sc)
          println(rec.report(name, wall))
        } finally sc.removeSparkListener(rec)
    }
  }

  private final class Job(val id: Int, val start: Long, val site: String) {
    var end = 0L
    var tasks = 0
    var taskMs = 0L
  }

  /** Jobs and task metrics of one measured pass. `drain` runs a one-task
    * marker job and waits for its end event: the listener bus delivers
    * in order, so every event of the measured pass has arrived by then.
    * The marker's own job, stage and tasks are not counted.
    */
  private final class Recorder extends SparkListener {
    private val MarkerKey = "graft.probe.marker"
    private val jobs = mutable.Map.empty[Int, Job]
    private val stageToJob = mutable.Map.empty[Int, Int]
    private var stages, tasks = 0
    private var taskMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    private var markerJob = -1
    private var markerDone = new CountDownLatch(1)

    def reset(): Unit = synchronized {
      jobs.clear(); stageToJob.clear()
      stages = 0; tasks = 0
      taskMs = 0; gcMs = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
    }

    def drain(sc: SparkContext): Unit = {
      val done = synchronized { markerDone = new CountDownLatch(1); markerDone }
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      require(done.await(60, TimeUnit.SECONDS), "Probe: listener bus did not drain")
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) markerJob = e.jobId
      else {
        val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
        jobs(e.jobId) = new Job(e.jobId, e.time, site)
        e.stageIds.foreach(stageToJob(_) = e.jobId)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == markerJob) markerDone.countDown()
      else jobs.get(e.jobId).foreach(_.end = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stageToJob.contains(e.stageInfo.stageId)) stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1; tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime; taskMs += m.executorRunTime
          gcMs += m.jvmGCTime
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.diskBytesSpilled
        }
      }
    }

    def report(name: String, wall: Double): String = synchronized {
      val head = f"== $name  wall $wall%.2f s  jobs ${jobs.size}  stages $stages  " +
        f"tasks $tasks  taskTime ${taskMs / 1e3}%.2f s  gc ${gcMs / 1e3}%.2f s  " +
        f"shufR ${shuffleRead / 1e6}%.1f MB  shufW ${shuffleWrite / 1e6}%.1f MB  " +
        f"spill ${spill / 1e6}%.1f MB"
      var prevEnd = 0L
      val lines = jobs.values.toSeq.sortBy(_.id).map { j =>
        val gap = if (prevEnd > 0) j.start - prevEnd else 0L
        prevEnd = math.max(prevEnd, j.end)
        f"  job ${j.id}%4d ${j.end - j.start}%6d ms  gap $gap%5d ms  tasks ${j.tasks}%4d  " +
          f"taskTime ${j.taskMs}%6d ms  ${j.site}"
      }
      (head +: lines).mkString("\n")
    }
  }
}
