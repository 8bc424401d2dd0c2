package graft

import graft.operators.{Ann, Pq, Regime}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization: deterministic training, exact ADC algebra, recall
  * against brute force, and the broadcast guard.
  */
class PqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def emb(n: Int, dim: Int = 16): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 13 + d * 7)))
    }.toDF("vec_id", "embedding")
  }

  test("pqTrain is deterministic and shape-correct; ks degrades to the sample size") {
    val e = emb(300)
    val a = Pq.pqTrain(e, "vec_id", "embedding", m = 4, ks = 16, sampleRows = 128, iters = 4)
    val b = Pq.pqTrain(e, "vec_id", "embedding", m = 4, ks = 16, sampleRows = 128, iters = 4)
    assert(a.m === 4 && a.ks === 16 && a.dsub === 4 && a.dim === 16)
    assert(a.flat.toSeq === b.flat.toSeq, "same inputs must give the same codebook")
    // sample smaller than ks: ks degrades, shape stays consistent
    val tiny = Pq.pqTrain(emb(5), "vec_id", "embedding", m = 4, ks = 16, sampleRows = 8)
    assert(tiny.ks === 5 && tiny.flat.length === 4 * 5 * 4)
    // dim not divisible by m is refused
    intercept[IllegalArgumentException](
      Pq.pqTrain(emb(10, dim = 15), "vec_id", "embedding", m = 4))
  }

  test("ADC algebra: adc(encode(x), lut(q)) equals the reconstruction dot, driver-recomputed") {
    val e = emb(60)
    val cb = Pq.pqTrain(e, "vec_id", "embedding", m = 4, ks = 8, sampleRows = 60, iters = 4)
    val q = emb(3)
    val enc = Pq.pqEncode(
      e.select(col("vec_id"), graft.functions.VectorOps.asDouble(col("embedding")).as("v")),
      "v", cb).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getSeq[Byte](2).toArray)).toSeq
    val qrows = q.select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    // plan-side ADC via the expressions
    val planScores = {
      val qlut = q.select(col("vec_id").as("qid"),
        graft.functions.PqColumns.pqLut(
          graft.functions.VectorOps.asDouble(col("embedding")), cb.flat, cb.m, cb.ks, cb.dsub)
          .as("lut"))
      val cpq = Pq.pqEncode(
        e.select(col("vec_id").as("cid"),
          graft.functions.VectorOps.asDouble(col("embedding")).as("v")), "v", cb)
        .select(col("cid"), col("pq"))
      qlut.crossJoin(cpq)
        .select(col("qid"), col("cid"),
          graft.functions.PqColumns.pqAdc(col("pq"), col("lut"), cb.m, cb.ks).as("adc"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    }
    // driver recomputation mirroring the kernel's association exactly: the
    // LUT entry is a per-subspace dot (inner fold), ADC sums the m entries
    // (outer fold) — a single flat fold would differ by a ULP
    for ((qid, qv) <- qrows; (cid, _, codes) <- enc) {
      var s = 0.0
      for (j <- 0 until cb.m) {
        val c = codes(j) & 0xFF
        val base = (j * cb.ks + c) * cb.dsub
        var sub = 0.0
        for (d <- 0 until cb.dsub) sub += qv(j * cb.dsub + d) * cb.flat(base + d)
        s += sub
      }
      assert(java.lang.Double.doubleToLongBits(planScores((qid, cid))) ===
        java.lang.Double.doubleToLongBits(s), s"ADC mismatch for ($qid, $cid)")
    }
  }

  test("array twins: lutArray/adcArray bit-equal the ArrayData expression kernels") {
    // the scan kernel (pqTopK's coarse stage) runs on the plain-array twins;
    // any drift from the expression forms would silently change candidate
    // sets, so pin them bit-for-bit on random-ish vectors
    import graft.functions.PqKernels
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val e = emb(40)
    val cb = Pq.pqTrain(e, "vec_id", "embedding", m = 4, ks = 8, sampleRows = 40, iters = 4)
    val vecs = e.select(graft.functions.VectorOps.asDouble(col("embedding"))).collect()
      .map(_.getSeq[Double](0).toArray)
    for (v <- vecs.take(10)) {
      val lutA = PqKernels.lutArray(v, cb.flat, cb.m, cb.ks, cb.dsub)
      val lutE = PqKernels.lut(new GenericArrayData(v), cb.flat, cb.m, cb.ks, cb.dsub)
        .toDoubleArray()
      assert(lutA.map(java.lang.Double.doubleToLongBits).toSeq ===
        lutE.map(java.lang.Double.doubleToLongBits).toSeq)
      for (w <- vecs.take(5)) {
        val codes = PqKernels.encode(
          new GenericArrayData(w), cb.flat, cb.m, cb.ks, cb.dsub)
        val codesArr = codes.toByteArray()
        assert(java.lang.Double.doubleToLongBits(
          PqKernels.adcArray(codesArr, lutA, cb.m, cb.ks)) ===
          java.lang.Double.doubleToLongBits(
            PqKernels.adc(codes, new GenericArrayData(lutE), cb.m, cb.ks)))
      }
    }
  }

  test("pqTopK: kept scores are exact cosines; recall@5 vs brute force clears the int8 floors") {
    val e = emb(400, dim = 32)
    val q = e.filter(col("vec_id") < 30)
    val cb = Pq.pqTrain(e, "vec_id", "embedding", m = 8, ks = 64, sampleRows = 400, iters = 8)
    val pq = Pq.pqTopK(q, "vec_id", "embedding", e, "vec_id", "embedding", cb,
      k = 5, rerankFactor = 4)
    val bf = Ann.bruteForceTopK(q, "vec_id", "embedding", e, "vec_id", "embedding", k = 5)
    // kept pairs carry the EXACT cosine: every (q, doc) pair also present in
    // brute force must agree bit-for-bit
    val bfScores = bf.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val pqRows = pq.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pqRows.nonEmpty)
    pqRows.foreach { case (qid, cid, s) =>
      bfScores.get((qid, cid)).foreach(exact =>
        assert(java.lang.Double.doubleToLongBits(s) ===
          java.lang.Double.doubleToLongBits(exact)))
    }
    val rec = Ann.recallAtK(pq, bf, 5)
    val avg = rec.agg(org.apache.spark.sql.functions.avg("recall")).head().getDouble(0)
    val min = rec.agg(org.apache.spark.sql.functions.min("recall")).head().getDouble(0)
    assert(avg >= 0.9, s"avg recall $avg")
    assert(min >= 0.6, s"min recall $min")
  }

  test("IVF_PQ layout: full-pool rerank bit-equals the double search; coarse scan is pq+cn only; append and compact preserve the codebook") {
    val e = emb(300, dim = 32)
    val q = e.filter(col("vec_id") < 15)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    val (cells, cents) = Ann.annBuildIndex(e, "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, dir, pqM = 8)
    val idx = Ann.annOpenIndex(spark, dir)
    assert(idx.pqCodebook.isDefined)
    assert(idx.cells.columns.contains("pq") && idx.cells.columns.contains("cn"))
    def rows(d: DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("score")),
        r.getAs[Int]("rank"))).sortBy(x => (x._1, x._4)).toSeq
    // rerank pool covering every probed candidate -> exact-rerank reproduces
    // the double search bit-for-bit
    val viaPq = Ann.annSearchIndexPq(idx, q, "vec_id", "embedding",
      k = 5, nProbe = 4, rerankFactor = 100)
    val viaDouble = Ann.annSearchIndex(idx, q, "vec_id", "embedding", k = 5, nProbe = 4)
    assert(rows(viaPq) === rows(viaDouble))
    assert(rows(viaPq).nonEmpty)
    // the ADC coarse scan reads pq + cn, never the 8-byte cv column
    val formatted = viaPq.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemas = formatted.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.exists(sch => sch.contains("pq") && !sch.contains("cv:")),
      schemas.mkString("; "))
    // distributed (over-bound) regime is row-identical too
    val viaDist = Regime.forcing(spark, Regime.MaxProbeRows, 1L)(
      Ann.annSearchIndexPq(idx, q, "vec_id", "embedding", k = 5, nProbe = 4, rerankFactor = 100))
    assert(rows(viaDist) === rows(viaPq))
    // append with the persisted codebook: appended search == search of a
    // rebuild with the same centroids AND the same codebook
    val more = emb(40, dim = 32).withColumn("vec_id", col("vec_id") + 1000L)
    assert(Ann.annAppendIndex(spark, dir, more, "vec_id", "embedding", "b1"))
    val app = Ann.annOpenIndex(spark, dir)
    assert(app.pqCodebook.isDefined)
    val viaApp = Ann.annSearchIndexPq(app, q, "vec_id", "embedding",
      k = 5, nProbe = 4, rerankFactor = 100)
    // compact passes the codebook through: search row-identical to source
    val dst = dir + "_compacted"
    Ann.annCompactIndex(spark, dir, dst)
    val cIdx = Ann.annOpenIndex(spark, dst)
    assert(cIdx.pqCodebook.map(_.flat.toSeq) === app.pqCodebook.map(_.flat.toSeq))
    assert(rows(Ann.annSearchIndexPq(cIdx, q, "vec_id", "embedding",
      k = 5, nProbe = 4, rerankFactor = 100)) === rows(viaApp))
    // a non-PQ layout refuses with the rebuild message
    val plainDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_plain").toString
    Ann.annWriteIndex(cells, cents, plainDir)
    val plain = Ann.annOpenIndex(spark, plainDir)
    val ex = intercept[IllegalArgumentException](
      Ann.annSearchIndexPq(plain, q, "vec_id", "embedding", k = 5))
    assert(ex.getMessage.contains("no PQ codebook"))
    // codebook JSON round-trips bit-exactly
    val reloaded = graft.operators.Pq.loadCodebook(spark, s"$dir/pq_codebook.json").get
    assert(reloaded.flat.toSeq === idx.pqCodebook.get.flat.toSeq)
  }

  test("broadcast guard trips with the documented message; skipSizeCheck bypasses") {
    val e = emb(200)
    val q = e.filter(col("vec_id") < 5)
    val cb = Pq.pqTrain(e, "vec_id", "embedding", m = 4, ks = 16, sampleRows = 64)
    Regime.forcing(spark, Regime.MaxBroadcastBytes, 10L) {
      val ex = intercept[IllegalArgumentException](
        Pq.pqTopK(q, "vec_id", "embedding", e, "vec_id", "embedding", cb, k = 3))
      assert(ex.getMessage.contains("broadcast bound"))
      assert(Pq.pqTopK(q, "vec_id", "embedding", e, "vec_id", "embedding", cb,
        k = 3, skipSizeCheck = true).count() > 0)
    }
  }
}
