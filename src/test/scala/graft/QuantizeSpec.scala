package graft

import graft.functions.Int8Kernels
import graft.operators.{Ann, Pq, Quantize, Regime, SemanticJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Int8 scalar quantization: rounding/range invariants, reconstruction-error
  * bound, the exact integer kernel, and the coarse+rerank search contract
  * against exact brute force.
  */
class QuantizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def vecs(n: Int, dim: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // deterministic pseudo-vectors with positive and negative lanes
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        math.sin(i * 31 + d * 7).toFloat * (1.0f + (d % 5))))
    }.toDF("vec_id", "embedding")
  }

  test("quantize: codes stay in [-127, 127], scale >= 0, zero vector -> zero codes") {
    import spark.implicits._
    val df = vecs(50, 16)
      .union(Seq((999L, Array.fill(16)(0.0f))).toDF("vec_id", "embedding"))
    val q = Quantize.quantize(df, "embedding")
    val bad = q.select(explode(col("codes")).as("c"))
      .filter(col("c") > 127 || col("c") < -127).count()
    assert(bad === 0)
    assert(q.filter(col("qscale") < 0.0).count() === 0)
    val zero = q.filter(col("vec_id") === 999L)
      .select(col("qscale"), aggregate(col("codes"), lit(0L), (a, x) => a + abs(x.cast("long"))))
      .head()
    assert(zero.getDouble(0) === 0.0)
    assert(zero.getLong(1) === 0L)
  }

  test("quantize: per-lane reconstruction error bounded by scale/2") {
    val q = Quantize.quantize(vecs(80, 24), "embedding")
    val worst = q.select(
      aggregate(
        zip_with(col("embedding").cast("array<double>"), col("codes"),
          (x, c) => abs(x - c.cast("double") * col("qscale"))),
        lit(0.0), (a, e) => greatest(a, e)).as("err"),
      col("qscale"))
      .filter(col("err") > col("qscale") * 0.5 + 1e-12)
      .count()
    assert(worst === 0)
  }

  test("dotI8: exact integer dot, matches the double kernel on the codes") {
    import spark.implicits._
    // Array[Byte] encodes as BinaryType; the kernel wants array<tinyint>
    val df = Seq(
      (Seq(1, -2, 3), Seq(4, 5, -6)),
      (Seq(127, -127, 0), Seq(127, 127, 9)),
      (Seq.empty[Int], Seq(1)))
      .toDF("a0", "b0")
      .select(col("a0").cast("array<tinyint>").as("a"), col("b0").cast("array<tinyint>").as("b"))
    val got = df.select(Int8Kernels.dotI8(col("a"), col("b"))).as[Long].collect()
    assert(got.toSeq === Seq(1L * 4 - 2 * 5 - 3 * 6, 127L * 127 - 127L * 127, 0L))
  }

  test("quantizedTopK: ids/ranks match exact brute force on well-separated data (full-pool rerank)") {
    val df = vecs(60, 16)
    // rerankFactor large enough that the coarse pool can't lose the true
    // top-k: the rerank is exact, so the output must EQUAL brute force
    val qz = Quantize.quantizedTopK(df, "vec_id", "embedding", df, "vec_id", "embedding",
      k = 3, rerankFactor = 20)
    val bf = Ann.bruteForceTopK(df, "vec_id", "embedding", df, "vec_id", "embedding", k = 3)
    assert(qz.select("left_id", "right_id", "rank", "score").except(
      bf.select("left_id", "right_id", "rank", "score")).count() === 0)
    assert(bf.count() === qz.count())
  }

  test("quantizedTopK: recall@5 vs brute force >= 0.9 at the bench rerank factor") {
    val df = vecs(200, 32)
    val qz = Quantize.quantizedTopK(df, "vec_id", "embedding", df, "vec_id", "embedding",
      k = 5, rerankFactor = 4)
    val bf = Ann.bruteForceTopK(df, "vec_id", "embedding", df, "vec_id", "embedding", k = 5)
    val avgRec = Ann.recallAtK(qz, bf, 5).agg(avg("recall")).head().getDouble(0)
    assert(avgRec >= 0.9, s"avg recall $avgRec")
  }

  test("quantizedTopK: empty query side yields empty result") {
    val df = vecs(10, 8)
    val out = Quantize.quantizedTopK(df.filter(col("vec_id") < 0), "vec_id", "embedding",
      df, "vec_id", "embedding", k = 2)
    assert(out.count() === 0)
  }

  test("quantizedTopK: coarse leg is a broadcast-matrix scan — no join, no corpus shuffle") {
    val df = vecs(100, 16)
    val qz = Quantize.quantizedTopK(df, "vec_id", "embedding", df, "vec_id", "embedding", k = 3)
    val plan = qz.queryExecution.executedPlan.toString
    // the declarative crossJoin(broadcast) form re-evaluated the per-query
    // quantize once per PAIR (whole-stage codegen defers stream-side
    // projections into the nested-loop's inner loop — the pqTopK lesson);
    // the scan kernel has no nested-loop join to de-amortize into
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.take(20).mkString("\n"))
    assert(plan.contains("MapPartitions"), plan.linesIterator.take(20).mkString("\n"))
    assert(!plan.toLowerCase.contains("cartesianproduct"))
  }

  test("quantizedTopK: over-bound corpus fails loudly (advisor r7), skipSizeCheck bypasses") {
    val df = vecs(100, 16) // 1600 code bytes
    Regime.forcing(spark, Regime.MaxBroadcastBytes, 100L) {
      val e = intercept[IllegalArgumentException] {
        Quantize.quantizedTopK(df, "vec_id", "embedding", df, "vec_id", "embedding", k = 2)
      }
      assert(e.getMessage.contains("annSearchIndexInt8"), e.getMessage)
      // explicit opt-out still runs (the caller owns the bound decision)
      assert(Quantize.quantizedTopK(df, "vec_id", "embedding", df, "vec_id", "embedding",
        k = 2, skipSizeCheck = true).count() > 0)
    }
  }

  test("quantizedTopK and pqTopK: the first search over a parquet corpus runs one job for the code matrix") {
    def parquet(n: Int): org.apache.spark.sql.DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("graft_qscan").toString
      vecs(n, 16).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    // two corpora, so neither search finds sizing work the other did
    val (c8, cPq) = (parquet(60), parquet(70))
    val cb = Pq.pqTrain(cPq, "vec_id", "embedding", m = 4, ks = 16, sampleRows = 70)
    val int8Jobs = SpecJobs.count(spark)(Quantize.quantizedTopK(
      c8.filter(col("vec_id") < 5), "vec_id", "embedding", c8, "vec_id", "embedding", k = 3))
    val pqJobs = SpecJobs.count(spark)(Pq.pqTopK(
      cPq.filter(col("vec_id") < 5), "vec_id", "embedding", cPq, "vec_id", "embedding", cb, k = 3))
    assert((int8Jobs, pqJobs) === ((1L, 1L)))
  }
}
