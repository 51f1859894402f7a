package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark SQL execution layer as the public listener surfaces show it:
  * job and stage spans, per-task run time, shuffle and spill bytes (from
  * `SparkListener`), and Catalyst planning time per executed query (the
  * `QueryExecution.tracker` phases, from `QueryExecutionListener`).
  * Attached only in traced runs: a per-task listener is itself work. */
object JobStats {
  final case class Job(id: Int, start: Long, stageIds: Seq[Int], var end: Long = 0L)
  final case class Stage(id: Int, tasks: Int, start: Long, end: Long)
  final case class Plan(phase: String, start: Long, end: Long)
}

final class JobStats(spark: SparkSession) extends SparkListener {
  import JobStats._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  private var tasks = 0L
  private var taskMs = 0L
  private var shuffleBytes = 0L
  private var spillBytes = 0L

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        plans.add(Plan(phase, s.startTimeMs, s.endTimeMs))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planning)
    this
  }

  def detach(): Unit = {
    Thread.sleep(300) // let the listener bus deliver the last events
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planning)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += Job(e.jobId, e.time, e.stageIds) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobs.find(_.id == e.jobId).foreach(_.end = e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stages += Stage(si.stageId, si.numTasks,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo != null) taskMs += e.taskInfo.finishTime - e.taskInfo.launchTime
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Cumulative (tasks, task ms, shuffle bytes, spill bytes). */
  def counters(): (Long, Long, Long, Long) =
    synchronized((tasks, taskMs, shuffleBytes, spillBytes))

  def jobsIn(from: Long, to: Long): Seq[Job] =
    synchronized(jobs.filter(j => j.start >= from && j.start < to).toVector)

  def stagesIn(from: Long, to: Long): Seq[Stage] =
    synchronized(stages.filter(s => s.start >= from && s.start < to).toVector)

  def plansIn(from: Long, to: Long): Seq[Plan] =
    plans.asScala.filter(p => p.start >= from && p.start < to).toVector

  /** The `query.*` layer over `[from, to)`, given counters taken at
    * `from`; divided by `per` (passes, for the query pack). `driver_s`
    * is wall time not covered by any job; a serial stage is one that ran
    * with at most max(1, cores/4) tasks. */
  def layer(from: Long, to: Long, at: (Long, Long, Long, Long), cores: Int,
      per: Double = 1.0): Map[String, Double] = {
    val (t1, ms1, sh1, sp1) = counters()
    val (t0, ms0, sh0, sp0) = at
    val js = jobsIn(from, to)
    val ss = stagesIn(from, to)
    val covered = Stats.unionLength(js.map(j => (j.start, math.min(j.end, to))))
    Map(
      "query.planning_s" -> plansIn(from, to).map(p => p.end - p.start).sum / 1e3,
      "query.driver_s" -> ((to - from) - covered) / 1e3,
      "query.jobs" -> js.size.toDouble,
      "query.stages" -> ss.size.toDouble,
      "query.tasks" -> (t1 - t0).toDouble,
      "query.task_s" -> (ms1 - ms0) / 1e3,
      "query.serial_stage_s" -> ss.filter(_.tasks <= math.max(1, cores / 4))
        .map(s => s.end - s.start).sum / 1e3,
      "query.shuffle_bytes" -> (sh1 - sh0).toDouble,
      "query.spill_bytes" -> (sp1 - sp0).toDouble,
    ).map { case (k, v) => k -> v / per }
  }

  /** Spans for the jobs started in `[from, to)` and their stages. */
  def addSpans(t: Tracer, parent: Long, from: Long, to: Long): Unit = {
    val ss = stagesIn(from - 1, Long.MaxValue).map(s => s.id -> s).toMap
    jobsIn(from, to).foreach { j =>
      val jid = t.add("job", parent, j.start * 1000, j.end * 1000, "job.id" -> j.id)
      j.stageIds.flatMap(ss.get).foreach(s =>
        t.add("stage", jid, s.start * 1000, s.end * 1000,
          "stage.id" -> s.id, "tasks" -> s.tasks))
    }
  }
}
