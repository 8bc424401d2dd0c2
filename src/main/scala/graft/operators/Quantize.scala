package graft.operators

import graft.functions.Int8Kernels.dotI8
import graft.functions.VectorOps._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ByteType

/** Symmetric per-vector int8 scalar quantization for embedding columns — the
  * memory lever for vector search at corpus scale: codes are 1 byte per lane
  * (vs 8 for the double matrix the exact kernels scan), so a broadcast corpus
  * fits ~8x more vectors under the same executor budget and the coarse-scoring
  * inner loop streams ~8x less memory. Search quality is recovered by exact
  * reranking: the int8 cosine orders a candidate pool `rerankFactor·k` deep,
  * then the survivors are re-scored with the exact double kernel — the
  * standard SQ8 + refine design (FAISS's `SQ8` / Milvus `IVF_SQ8` regime,
  * public algorithm), here as pure Catalyst expressions. This object holds
  * the kernels; [[Resident.Int8Scoring]] is the one place that scores with
  * them, for the index plans, the driver mirror and [[quantizedTopK]].
  *
  * Determinism contract: `scale = max(|v|)/127` and
  * `code = floor(v/scale + 0.5)` are single-rounding double ops, and the int8
  * dot is exact integer arithmetic — every derived number (codes, integer
  * norms, quantized cosine) is bit-reproducible on any engine, which the
  * DuckDB oracle checks value-for-value (`q_quantize_int8`). No float-sum
  * order caveat anywhere: integer summation is associative.
  *
  * Reference has no quantization (FAISS flat indexes only, infer.py:141-151);
  * this is a beyond-reference scale component like IVF/SRP-LSH.
  */
object Quantize {

  /** `max(|v|)/127` — the per-vector dequantization step size (0 for the
    * all-zero vector, whose codes are defined as all-zero).
    */
  def scaleCol(vec: Column): Column =
    array_max(transform(asDouble(vec), x => abs(x))) / lit(127.0)

  /** Quantize `vecCol` into `array<tinyint>` codes + a double scale column.
    * `floor(x/scale + 0.5)` lands in [-127, 127] by construction (|x| <= 127·scale),
    * so the tinyint cast never wraps.
    */
  def quantize(
      df: DataFrame, vecCol: String,
      codesName: String = "codes", scaleName: String = "qscale"): DataFrame = {
    val withScale = df.withColumn(scaleName, scaleCol(col(vecCol)))
    withScale.withColumn(codesName,
      when(col(scaleName) === lit(0.0),
        transform(asDouble(col(vecCol)), _ => lit(0).cast(ByteType)))
        .otherwise(transform(asDouble(col(vecCol)),
          x => floor(x / col(scaleName) + lit(0.5)).cast(ByteType))))
  }

  /** Integer squared norm of a code array (exact, Long). */
  def norm2I8(codes: Column): Column = dotI8(codes, codes)

  /** Plain-array twin of [[quantize]] + [[norm2I8]] for the array form of
    * [[Resident.Int8Scoring]] (the mirror fold and the [[quantizedTopK]]
    * scan): each step is the same double/long operation in the same order
    * as the Catalyst form — `max(|x|)/127` scale, `floor(x/scale + 0.5)`
    * cast byte, exact integer squared norm — so the codes are bit-identical
    * (q_quantize_int8 oracles the column form; the guard spec
    * differential-tests the paths that mix the two).
    */
  private[graft] def quantizeArray(qv: Array[Double]): (Array[Byte], Long) = {
    var mx = 0.0
    var i = 0
    while (i < qv.length) { val a = math.abs(qv(i)); if (a > mx) mx = a; i += 1 }
    val scale = mx / 127.0
    val codes = new Array[Byte](qv.length)
    if (scale != 0.0) {
      i = 0
      while (i < qv.length) { codes(i) = math.floor(qv(i) / scale + 0.5).toByte; i += 1 }
    }
    var n2 = 0L
    i = 0
    while (i < codes.length) { n2 += codes(i).toLong * codes(i).toLong; i += 1 }
    (codes, n2)
  }

  /** Plain-array twins of [[graft.functions.Int8Kernels.dotI8]] and
    * [[cosineI8WithNorms]] — same ascending-index integer fold, same
    * double division/clamp order. The integer squared norms arrive as
    * doubles, which hold them exactly: the column form casts them the same
    * way.
    */
  private[graft] def dotI8Array(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length) // the VecDotI8 convention
    var s = 0L
    var i = 0
    while (i < n) { s += a(i).toLong * b(i).toLong; i += 1 }
    s
  }

  private[graft] def cosineI8Scalar(dotI: Long, n2a: Double, n2b: Double): Double =
    if (n2a == 0.0 || n2b == 0.0) 0.0
    else math.min(math.max(dotI.toDouble / (math.sqrt(n2a) * math.sqrt(n2b)), -1.0), 1.0)

  /** Cosine of two code arrays from a precomputed integer dot and integer
    * squared norms. The per-vector scale cancels in cosine, so this is the
    * quantized estimate of the exact cosine — same op order and [-1,1] clamp
    * as [[graft.functions.VectorOps.cosineWithNorms]] for oracle parity; a
    * zero-norm side scores 0.0 (matching the exact kernel's all-zero-vector
    * convention).
    */
  def cosineI8WithNorms(dotI: Column, n2a: Column, n2b: Column): Column =
    when(n2a === lit(0L) || n2b === lit(0L), lit(0.0))
      .otherwise(least(greatest(
        dotI.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))),
        lit(-1.0)), lit(1.0)))

  /** Quantized top-k: int8 coarse scoring over the broadcast code matrix,
    * exact double rerank of the top `rerankFactor·k` candidates per query.
    * Output contract = [[SemanticJoin.knnJoinVec]] (`left_id, right_id,
    * score, rank`), with `score` the EXACT cosine (bit-identical to the
    * brute-force kernel on every pair it keeps — only the candidate set is
    * approximate, which `q_ann_int8_recall` gates against recall floors).
    *
    * Scale shape ([[Ann.scanTopK]] with [[Resident.Int8Scoring]]): the
    * corpus is quantized IN-PLAN (one distributed pass) and collected as a
    * code matrix (1 byte per lane plus an id and a norm — ~8x more vectors
    * per broadcast byte than the double matrix) in the one job that sizes
    * it; coarse scoring is a map-partitions scan over the broadcast matrix
    * that quantizes each QUERY once and pays one exact integer dot per
    * candidate; the rerank is an equi-join on corpus id against the
    * original vectors — no all-pairs shuffle anywhere. A corpus whose
    * matrix exceeds [[Regime.MaxBroadcastBytes]] fails loudly with the
    * alternative (IVF cells, [[Ann.annSearchIndexInt8]]) unless
    * `skipSizeCheck`.
    */
  def quantizedTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, rerankFactor: Int = 4,
      excludeSelf: Boolean = false, skipSizeCheck: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    Ann.scanTopK(queries, qId, qVec, corpus, cId, cVec, k, Resident.Int8Scoring(rerankFactor),
      excludeSelf, skipSizeCheck, bound =>
        "corpus code matrix (8 id + 1 per lane + 8 norm bytes per vector) exceeds the " +
          s"$bound-byte broadcast bound — raise ${Regime.MaxBroadcastBytes.key} " +
          "or compose with the IVF cells instead (Ann.annSearchIndexInt8 " +
          "quantizes within partition-pruned cells)")
  }
}
