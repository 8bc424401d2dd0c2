package graft

import org.apache.spark.sql.SparkSession

/** The specs' job census: the Spark jobs a block started, read from one
  * [[Instrument]] after [[Instrument.settle]], so the count is exact however
  * far the listener bus lags.
  */
object SpecJobs {

  /** `f`'s result and the jobs it started, in submission order. */
  def of[A](spark: SparkSession)(f: => A): (A, Vector[Instrument.Job]) = {
    val instrument = Instrument.attach(spark.sparkContext)
    try {
      val mark = instrument.settle()
      val a = f
      instrument.settle()
      (a, instrument.jobsSince(mark))
    } finally instrument.close()
  }

  /** The number of jobs `f` started. */
  def count(spark: SparkSession)(f: => Any): Long = of(spark)(f)._2.size.toLong
}
