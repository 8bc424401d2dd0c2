package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Instrument]]'s counts are exact once [[Instrument.settle]] returns,
  * however far the listener bus lags: a sibling listener that blocks on every
  * job start backs the shared queue up well past any quiet-period guess.
  */
class InstrumentSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("settle: the job census over a group equals the status tracker's under a backed-up bus") {
    val sc = spark.sparkContext
    val slow = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(200)
    }
    // the sibling first: every job start reaches the instrument only after
    // the sibling has blocked on it
    sc.addSparkListener(slow)
    val instrument = Instrument.attach(sc)
    val group = s"instrument_spec_${System.nanoTime()}"
    try {
      val mark = instrument.settle()
      sc.setJobGroup(group, "census")
      val rows = try (1 to 6).map(i => spark.range(0, 1000L * i, 1, 2).count()).sum
        finally sc.clearJobGroup()
      assert(rows == 21000L)
      val totals = instrument.settle() - mark
      val jobs = instrument.jobsSince(mark)
      val expected = sc.statusTracker.getJobIdsForGroup(group).length
      assert(expected >= 6)
      assert(jobs.count(_.group.contains(group)) == expected)
      assert(totals.jobs == jobs.size)
      assert(jobs.forall(j => j.end >= j.start && j.end > 0), "every job's end arrived")
      assert(totals.tasks >= 12 && totals.stages >= 6)
    } finally {
      instrument.close()
      sc.removeSparkListener(slow)
    }
  }
}
