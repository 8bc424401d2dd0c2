package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.ListenerBridge

/** The harness's one Spark listener: a record per job, plus stage, task,
  * executor run-time and in-task GC totals.
  *
  * Spark delivers listener events asynchronously, so a count read right
  * after an action can miss that action's jobs. Read through [[settle]],
  * outside any timed window: it drains the listener bus, after which the
  * counts cover every action that has returned.
  */
final class Instrument private (sc: SparkContext) extends SparkListener {
  import Instrument._

  // guarded by `this`: the bus thread writes, readers call settle() first
  private val log = scala.collection.mutable.ArrayBuffer.empty[Job]
  private val byId = scala.collection.mutable.HashMap.empty[Int, Job]
  private val byStage = scala.collection.mutable.HashMap.empty[Int, Job]
  private var totals = Totals(0, 0, 0, 0, 0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val j = Job(e.jobId, prop("spark.jobGroup.id"), e.time, e.stageIds,
      e.stageInfos.map(si => s"${si.name} tasks=${si.numTasks} details=${site(si.details)}"))
    j.desc = prop("callSite.short").getOrElse("")
    log += j
    byId(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(e.jobId).foreach { j => j.end = e.time; byStage --= j.stageIds }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    byStage.get(si.stageId).foreach { j =>
      j.stages += 1; j.tasks += si.numTasks
      if (si.numTasks > 1 || j.desc.isEmpty) j.desc = si.name
    }
    totals = totals.copy(stages = totals.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    totals = totals.copy(tasks = totals.tasks + 1,
      runMs = totals.runMs + (if (m == null) 0L else m.executorRunTime),
      gcMs = totals.gcMs + (if (m == null) 0L else m.jvmGCTime))
  }

  /** Drain the listener bus, then return the totals so far. Blocks while
    * other listeners work through a backlog; never call it inside a timed
    * window.
    */
  def settle(): Totals = { ListenerBridge.drain(sc); synchronized(totals) }

  /** The jobs started after `mark` (a [[settle]] result), in submission
    * order. Call [[settle]] first.
    */
  def jobsSince(mark: Totals): Vector[Job] = synchronized(log.drop(mark.jobs.toInt).toVector)

  def close(): Unit = sc.removeSparkListener(this)
}

object Instrument {
  def attach(sc: SparkContext): Instrument = {
    val i = new Instrument(sc)
    sc.addSparkListener(i)
    i
  }

  /** Counts since the instrument was attached; subtract two settles for
    * the work in between. `runMs` and `gcMs` sum executor run time and
    * in-task JVM GC time over finished tasks.
    */
  final case class Totals(jobs: Long, stages: Long, tasks: Long, runMs: Long, gcMs: Long) {
    def -(o: Totals): Totals =
      Totals(jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs, gcMs - o.gcMs)
  }

  /** One job. Times are the scheduler's epoch ms; `end` is 0 until it ends.
    * `stages`/`tasks` count its completed stages and their tasks; `desc` is
    * its call site until a stage with more than one task completes, then
    * that stage's name. `stageSites` describes each submitted stage.
    */
  final case class Job(id: Int, group: Option[String], start: Long,
      stageIds: Seq[Int], stageSites: Seq[String]) {
    var end = 0L
    var stages = 0
    var tasks = 0
    var desc = ""
  }

  /** The first three frames of a stage's call site that name this library
    * or the Dataset API: the frames above them are Spark's async wrappers.
    */
  private def site(details: String): String =
    details.linesIterator
      .filter(l => l.contains("graft.") || l.contains("sql.classic.Dataset") ||
        l.contains("sql.Dataset"))
      .take(3).mkString(" <- ")
}
