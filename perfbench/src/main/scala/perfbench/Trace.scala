package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. Times are epoch nanoseconds. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long) {
  def dur: Long = end - start
}

/** What Spark did on behalf of one span (every job carrying its tag). */
final class SparkWork {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var resultBytes = 0L
  var planMs = 0L
  /** `Dedup.minhashLsh` verify work ([[Census.minhashVerify]]). */
  var candidatePairs = 0L; var verifiedPairs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Span recorder for the traced run. Spans are kept in memory and read once
  * the workload has finished; with tracing off every call is a plain call.
  *
  * Spark work is attributed by job tag: entering a span adds the tag
  * `pb-<id>` to the calling thread, so every job and SQL execution started
  * inside it (Spark copies the thread's tags into broadcast and subquery
  * threads) carries the tags of the span and of all its ancestors.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Long]](
    () => new java.util.ArrayDeque[Long]())
  // ms-resolution wall clock mapped onto a monotonic nanosecond clock
  private val nanoBase = System.nanoTime()
  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  def now(): Long = epochBaseNs + (System.nanoTime() - nanoBase)

  private val listener = new Tracer.Listener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val st = stack.get()
      val parent = if (st.isEmpty) 0L else st.peek()
      val tag = s"pb-$id"
      st.push(id)
      spark.sparkContext.addJobTag(tag)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        spark.sparkContext.removeJobTag(tag)
        st.pop()
        spans.add(Span(id, name, t0, t1, parent))
      }
    }

  /** All spans, after Spark's listener bus has delivered every event. */
  def finish(): (Vector[Span], Map[Long, SparkWork]) = {
    if (!enabled) return (Vector.empty, Map.empty)
    // a marker job: once its end event arrived, every earlier event has too
    // (one listener queue, delivered in order)
    val marker = "pb-marker"
    spark.sparkContext.addJobTag(marker)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.removeJobTag(marker)
    val deadline = System.currentTimeMillis() + 10000
    while (!listener.markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(listener)
    (spans.asScala.toVector.sortBy(_.start), listener.work)
  }
}

object Tracer {
  /** The execution an end event reports on. The field is `private[sql]`
    * (Spark's own QueryExecutionListener bus reads it), so it is read
    * reflectively; the listener interface would not give the execution id.
    */
  private val qeField = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(qeField.invoke(e).asInstanceOf[QueryExecution])

  private def spanIds(tags: Iterable[String]): Iterable[Long] =
    tags.collect { case t if t.startsWith("pb-") && t != "pb-marker" => t.drop(3).toLong }

  final class Listener extends SparkListener {
    private final case class Job(spanIds: Seq[Long], start: Long, var end: Long = -1L)
    private val jobs = new ConcurrentHashMap[Int, Job]
    private val stageJob = new ConcurrentHashMap[Int, Int]
    private val stageDone = new ConcurrentHashMap[Int, StageInfo]
    private val execSpans = new ConcurrentHashMap[Long, Seq[Long]]
    private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    private val verifies = new java.util.concurrent.ConcurrentLinkedQueue[(Long, (Long, Long))]
    @volatile var markerSeen = false

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      jobs.put(e.jobId, Job(spanIds(tags).toSeq, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      if (tags.contains("pb-marker")) jobs.put(e.jobId, Job(Seq(-1L), e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) {
        j.end = e.time
        if (j.spanIds == Seq(-1L)) markerSeen = true
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageDone.put(e.stageInfo.stageId, e.stageInfo)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSpans.put(s.executionId, spanIds(s.jobTags).toSeq)
      case s: SparkListenerSQLExecutionEnd => Tracer.queryExecution(s).foreach { qe =>
        plans.add((s.executionId, qe.tracker.phases.values.map(_.durationMs).sum))
        Census.minhashVerify(qe.executedPlan).foreach(v => verifies.add((s.executionId, v)))
      }
      case _ =>
    }

    def work: Map[Long, SparkWork] = {
      val out = mutable.HashMap.empty[Long, SparkWork]
      def w(id: Long) = out.getOrElseUpdate(id, new SparkWork)
      jobs.asScala.foreach { case (_, j) =>
        j.spanIds.filter(_ > 0).foreach { id =>
          w(id).jobs += 1
          if (j.end >= j.start) w(id).jobIntervals += ((j.start, j.end))
        }
      }
      stageDone.asScala.foreach { case (sid, info) =>
        val j = jobs.get(stageJob.getOrDefault(sid, -1))
        if (j != null) j.spanIds.filter(_ > 0).foreach { id =>
          val x = w(id); val m = info.taskMetrics
          x.stages += 1; x.tasks += info.numTasks
          if (m != null) {
            x.runMs += m.executorRunTime; x.cpuNs += m.executorCpuTime
            x.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            x.resultBytes += m.resultSize
          }
        }
      }
      plans.asScala.foreach { case (execId, ms) =>
        Option(execSpans.get(execId)).getOrElse(Nil).foreach(id => w(id).planMs += ms)
      }
      verifies.asScala.foreach { case (execId, (cands, verified)) =>
        Option(execSpans.get(execId)).getOrElse(Nil).foreach { id =>
          w(id).candidatePairs += cands; w(id).verifiedPairs += verified
        }
      }
      out.toMap
    }
  }

  /** Length of the union of `[start, end]` intervals clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Span duration minus the part of it covered by its children. */
  def selfTimes(spans: Vector[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end)),
        s.start, s.end))
    }.toMap
  }
}
