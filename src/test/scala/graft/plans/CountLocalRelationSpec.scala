package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.Count
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[CountLocalRelation]]: a global `count(1)` over driver-held rows is
  * answered on the driver, with no job; every other count over them keeps
  * Spark's plan, and its value.
  */
class CountLocalRelationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftPlans.installRules(s)
    s
  }

  /** Five driver-held rows, two of them with a null `g`. */
  private def rows: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Row(1L, "a"), Row(2L, null), Row(3L, "a"), Row(4L, "b"),
      Row(5L, null)),
    StructType(Seq(StructField("x", LongType, nullable = false),
      StructField("g", StringType, nullable = true))))

  private def sql(q: String): DataFrame = {
    rows.createOrReplaceTempView("count_rule_rows")
    spark.sql(q)
  }

  /** `f`'s value and the number of jobs it ran. */
  private def jobs[A](f: => A): (A, Int) = {
    val (a, js) = graft.SpecJobs.of(spark)(f)
    (a, js.size)
  }

  private def aggregated(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }.isDefined

  test("a global count(1) over driver-held rows runs no job: df.count(), a filtered count, SQL count(*), no rows") {
    assert(jobs(rows.count()) == ((5L, 0)))
    assert(jobs(rows.filter(col("x") > 2).count()) == ((3L, 0)))
    assert(jobs(sql("SELECT count(*) AS n FROM count_rule_rows").collect().toSeq) ==
      ((Seq(Row(5L)), 0)))
    assert(jobs(rows.filter(col("x") > 9).count()) == ((0L, 0)))
    assert(!aggregated(rows.groupBy().count()))
  }

  test("every other count keeps Spark's plan and its value: grouped, DISTINCT, count(x) over nulls, FILTER (WHERE ...), mixed") {
    val grouped = rows.groupBy("g").count()
    assert(aggregated(grouped))
    assert(grouped.collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet ==
      Set((Some("a"), 2L), (Some("b"), 1L), (None, 2L)))
    def one(q: String): Seq[Any] = {
      val df = sql(q)
      assert(aggregated(df), q)
      df.collect().toSeq.map(_.toSeq) match { case Seq(r) => r }
    }
    assert(one("SELECT count(DISTINCT g) FROM count_rule_rows") == Seq(2L))
    assert(one("SELECT count(g) FROM count_rule_rows") == Seq(3L))
    assert(one("SELECT count(*) FILTER (WHERE x > 2) FROM count_rule_rows") == Seq(3L))
    assert(one("SELECT count(*), count(g) FROM count_rule_rows") == Seq(5L, 3L))
  }

  test("a streaming relation is left alone: the rule keeps its plan, and a streaming count keeps its running value") {
    val attrs = DataTypeUtils.toAttributes(StructType(Seq(StructField("x", LongType))))
    val streaming = LocalRelation(attrs, Seq(InternalRow(1L), InternalRow(2L)), isStreaming = true)
    val agg = Aggregate(Nil, Seq(Alias(Count(Literal(1)).toAggregateExpression(), "count")()),
      streaming)
    assert(CountLocalRelation(agg) == agg)
    // the same plan over batch rows folds, to the same output attribute
    CountLocalRelation(agg.copy(child = streaming.copy(isStreaming = false))) match {
      case LocalRelation(out, Seq(r), false, _) =>
        assert(out == agg.output && r.getLong(0) == 2L)
      case other => fail(s"not folded: $other")
    }
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Long]
    val q = stream.toDF().groupBy().count().writeStream.format("memory")
      .queryName("count_rule_stream").outputMode("complete").start()
    try {
      def running: Long = spark.table("count_rule_stream").collect().map(_.getLong(0)).max
      stream.addData(1L, 2L)
      q.processAllAvailable()
      assert(running == 2L)
      stream.addData(3L, 4L, 5L)
      q.processAllAvailable()
      assert(running == 5L)
    } finally q.stop()
  }
}
