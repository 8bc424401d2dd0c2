package graft

import graft.operators.{Dedup, Regime}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.minhashLsh` has two regimes: the driver regime (one job collects
  * `(id, shingles, signature)`; buckets, verify and union-find on the
  * driver) and the distributed plan. They must give the same rows and
  * schema, nullability included, on every input; the plan is forced by a
  * 1-byte `spark.graft.vecscan.maxBroadcastBytes`.
  */
class MinhashLshSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  private val base = "the quick brown fox jumps over the lazy dog near the river bank today"

  /** Near-duplicate groups over a small vocabulary (chains included), plus
    * every edge case of the contract: null ids, null / empty / blank texts,
    * texts shorter than the shingle size, and duplicate ids whose rows
    * differ (one with a null text).
    */
  private def corpus: Seq[(Option[Long], String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    val groups = (0 until 30).flatMap { g =>
      val words = Array.fill(14)(vocab(rnd.nextInt(vocab.size)))
      (0 until 1 + rnd.nextInt(4)).map { v =>
        val w = words.clone()
        (0 until v).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size)))
        (Option(g * 10L + v), w.mkString(" "))
      }
    }
    groups ++ Seq(
      (Some(1000L), base), (Some(1001L), base.replace("today", "tonight")),
      (None, base), (None, "something else entirely here"),
      (Some(1002L), null), (Some(1003L), ""), (Some(1004L), "   "), (Some(1005L), "short"),
      (Some(1006L), "two words"), (Some(1007L), "two words"),
      (Some(1008L), "completely unrelated content about databases and query plans"),
      (Some(1008L), base + " again"),
      (Some(1009L), null), (Some(1009L), base.replace("today", "now")),
      (Some(0L), "a different text for a duplicate id of the first group"))
  }

  private def idText(ids: Seq[Option[Any]], idType: DataType): DataFrame = {
    val rows = ids.zip(corpus.map(_._2)).map { case (i, t) => Row(i.orNull, t) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("doc", idType), StructField("body", StringType))))
  }

  private def longIds: DataFrame = idText(corpus.map(_._1), LongType)

  /** Rows as a sorted comparable list, and the schema. */
  private def run(df: DataFrame, shingleSize: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4,
      tau: Double = 0.5, family: String = "md5"): (Seq[(Option[Long], Option[Long])], StructType) = {
    val out = Dedup.minhashLsh(df, "doc", "body", shingleSize, numBands, rowsPerBand, tau, family)
    val rows = out.collect().map(r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long])))
    (rows.toSeq.sortBy(_.toString), out.schema)
  }

  private def counters: (Long, Long, Long) = {
    val sc = spark.sparkContext
    (Dedup.lshDriverRuns(sc).value, Dedup.lshCandidatePairs(sc).value,
      Dedup.lshVerifiedPairs(sc).value)
  }

  /** Runs both regimes; asserts the driver regime ran once, the plan none,
    * equal rows, schemas and pair counts. Returns the driver rows.
    */
  private def assertSame(df: DataFrame, shingleSize: Int = 3, numBands: Int = 8,
      rowsPerBand: Int = 4, tau: Double = 0.5, family: String = "md5")
      : Seq[(Option[Long], Option[Long])] = {
    val c0 = counters
    val (drv, drvSchema) = run(df, shingleSize, numBands, rowsPerBand, tau, family)
    val c1 = counters
    val (plan, planSchema) = Regime.forcing(spark, Regime.MaxBroadcastBytes, 1L)(
      run(df, shingleSize, numBands, rowsPerBand, tau, family))
    val c2 = counters
    assert(c1._1 - c0._1 == 1, "the driver regime did not run")
    assert(c2._1 == c1._1, "the forced plan ran the driver regime")
    assert(drv == plan)
    assert(drvSchema == planSchema)
    assert((c1._2 - c0._2, c1._3 - c0._3) == (c2._2 - c1._2, c2._3 - c1._3),
      "candidate / verified pair counts differ between the regimes")
    drv
  }

  test("driver regime ≡ plan: long ids, edge cases, 1 and defaultParallelism partitions") {
    val local = longIds
    val rows = assertSame(local)
    // the contract itself: one row per distinct id, the null id included
    assert(rows.size == corpus.map(_._1).distinct.size)
    assert(rows.contains((None, None)))
    val byId = rows.collect { case (Some(i), Some(c)) => i -> c }.toMap
    assert(byId(1001L) == byId(1000L) && byId(1000L) <= 1000L)
    assert(byId(1009L) == byId(1000L), "the matching row of a duplicate id must verify")
    assert(byId(1004L) == 1003L, "empty and blank texts share one shingle and cluster")
    assert(byId(1007L) == 1006L && byId(1005L) == 1005L && byId(1002L) == 1002L)
    assert(Dedup.lshVerifiedPairs(spark.sparkContext).value > 0)

    assertSame(local.repartition(1))
    assertSame(local.repartition(spark.sparkContext.defaultParallelism))
  }

  test("driver regime ≡ plan: int and numeric-string ids") {
    assertSame(idText(corpus.map(_._1.map(_.toInt)), IntegerType)
      .repartition(3), tau = 0.4)
    val strIds = assertSame(idText(corpus.map(_._1.map(_.toString)), StringType))
    assert(strIds.contains((None, None)))
  }

  test("driver regime ≡ plan: xx family, other shingle sizes, bands and rows") {
    val local = longIds
    assertSame(local, family = "xx")
    assertSame(local.repartition(2), shingleSize = 2, numBands = 4, rowsPerBand = 2, tau = 0.3)
    assertSame(local, shingleSize = 5, numBands = 16, rowsPerBand = 1, tau = 0.7, family = "xx")
    // a threshold of 0 verifies every candidate, null shingle sets aside
    assertSame(local, tau = 0.0)
    // without ANSI, size(null) is -1 and a null shingle set scores 1.0
    withConf("spark.sql.ansi.enabled", "false")(assertSame(local))
  }

  test("a hot bucket over smallGraphEdgeLimit takes the plan, with the same rows") {
    import spark.implicits._
    // 60 identical texts: one bucket of 60 rows in every band (8 × 1,770 row pairs)
    val hot = ((1L to 60L).map(i => (i, base)) ++ corpus.collect {
      case (Some(i), t) => (i + 100L, t) }).toDF("doc", "body")
    val (ref, _) = Regime.forcing(spark, Regime.MaxBroadcastBytes, 1L)(run(hot))
    val runs = Dedup.lshDriverRuns(spark.sparkContext).value
    val (got, _) = Regime.forcing(spark, Regime.SmallGraphEdgeLimit, 1000L)(run(hot))
    assert(Dedup.lshDriverRuns(spark.sparkContext).value == runs, "the driver regime ran")
    assert(got == ref)
    assert((1L to 60L).forall(i => got.contains((Some(i), Some(1L)))))
  }

  test("job budget: one job over parquet, collect included; none over a LocalRelation") {
    def jobsOf(df: DataFrame): Long = {
      run(df) // warm
      val runs = Dedup.lshDriverRuns(spark.sparkContext).value
      val n = SpecJobs.count(spark)(run(df))
      assert(Dedup.lshDriverRuns(spark.sparkContext).value == runs + 1)
      n
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_minhash_jobs").toString
    longIds.repartition(2).write.mode("overwrite").parquet(s"$dir/docs")
    val parquet = spark.read.parquet(s"$dir/docs")
    assert(jobsOf(parquet) == 1)
    assert(jobsOf(longIds) == 0)
  }

  test("an empty input gives no rows in either regime") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc", "body")
    assert(run(empty)._1.isEmpty)
    assert(Regime.forcing(spark, Regime.MaxBroadcastBytes, 1L)(
      run(empty.repartition(2)))._1.isEmpty)
  }
}
