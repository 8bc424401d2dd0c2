package perfbench

import graft.functions.{Md5EmbedExpr, MinHashSig, PqKernels, SimHash64Expr}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The hot kernels timed outside Spark, in nanoseconds per row: the median
  * of several timed loops over the same seeded rows, after a warm-up loop.
  */
object Kernels {
  private val Rows = 2000
  private val Reps = 5

  private def nsPerRow(body: Int => Any): Double = {
    var sink = 0
    def loop(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < Rows) { sink += body(i).hashCode; i += 1 }
      System.nanoTime() - t0
    }
    loop()
    val ns = Stats.median((1 to Reps).map(_ => loop().toDouble)) / Rows
    if (sink == 42) println("") // keeps the results live
    ns
  }

  def measure(seed: Long): Map[String, Double] = {
    val gen = new Gen(seed)
    val r = new scala.util.Random(seed)
    val texts = Array.fill(Rows)(gen.text(r))
    val shingles = texts.map { t =>
      val toks = t.split(" ")
      new GenericArrayData(toks.sliding(3).map(w => UTF8String.fromString(w.mkString(" ")))
        .toArray[Any])
    }
    // IVF_PQ shape of the serving index: dim 64 = 8 subspaces x 8 lanes, 256 codes
    val (m, ks, dsub) = (8, 256, 8)
    val flat = Array.fill(m * ks * dsub)(r.nextGaussian())
    val vecs = Array.fill(Rows)(Array.fill(m * dsub)(r.nextGaussian()))
    val codes = Array.fill(Rows)(Array.fill(m)(r.nextInt(ks).toByte))
    val lut = PqKernels.lutArray(vecs(0), flat, m, ks, dsub)
    Map(
      "functions.hash_embed_ns" -> nsPerRow(i => graft.embed.HashEmbedder.embedText(texts(i), 64, true)),
      "functions.md5_embed_ns" -> nsPerRow(i => Md5EmbedExpr.embedText(texts(i))),
      "functions.simhash_ns" -> nsPerRow(i => SimHash64Expr.simhashText(texts(i))),
      "functions.minhash_sig_ns" -> nsPerRow(i => MinHashSig.compute(shingles(i), 32)),
      "functions.pq_lut_ns" -> nsPerRow(i => PqKernels.lutArray(vecs(i), flat, m, ks, dsub)),
      "functions.pq_adc_ns" -> nsPerRow(i => PqKernels.adcArray(codes(i), lut, m, ks)))
  }
}
