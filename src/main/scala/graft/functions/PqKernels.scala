package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Product-quantization kernels (Jégou, Douze, Schmid 2011 — "Product
  * Quantization for Nearest Neighbor Search", public): a vector is split
  * into `m` contiguous subvectors of `dsub` lanes, each encoded as the index
  * of its nearest subspace centroid out of `ks` — `m` BYTES per vector
  * instead of `dim` doubles (64x) or `dim` int8 lanes (dim/m x, 8x at the
  * testdata's 64-dim/m=8). Scoring is asymmetric distance computation (ADC):
  * per query, one `m x ks` lookup table of subspace dot products is built
  * ONCE, and each corpus candidate costs `m` table lookups — no
  * per-candidate float multiply at all.
  *
  * All three kernels are codegen'd tight loops over a codebook shipped as a
  * generated-code reference object (never re-read per row). The codebook is
  * trained driver-side ([[graft.operators.Pq.pqTrain]]) from a seeded
  * deterministic sample, so codes and LUTs are reproducible run-to-run;
  * exactness of the final scores is restored by the exact-cosine rerank
  * ([[graft.operators.Pq.pqTopK]]), and candidate quality is recall-gated
  * (`q_ann_pq_recall`) — the same contract as the int8 path.
  */
object PqKernels {

  /** Flat codebook layout: `flat[(j*ks + c)*dsub + d]` = lane `d` of
    * centroid `c` of subspace `j`.
    */
  def encode(vec: ArrayData, flat: Array[Double], m: Int, ks: Int, dsub: Int): ArrayData = {
    val n = vec.numElements()
    if (n != m * dsub) throw new IllegalArgumentException(
      s"pq_encode: vector has $n lanes, codebook expects ${m * dsub} (m=$m x dsub=$dsub)")
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ks) {
        var dist = 0.0
        var d = 0
        val base = (j * ks + c) * dsub
        while (d < dsub) {
          val diff = vec.getDouble(j * dsub + d) - flat(base + d)
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      out(j) = best.toByte // 0..ks-1; read back unsigned via & 0xFF
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query ADC lookup table: `lut[j*ks + c] = dot(q_sub_j, cent[j][c])`
    * — so that `sum_j lut[j*ks + code_j]` is the dot of the query with the
    * candidate's RECONSTRUCTION. Length `m*ks`.
    */
  def lut(vec: ArrayData, flat: Array[Double], m: Int, ks: Int, dsub: Int): ArrayData = {
    val n = vec.numElements()
    if (n != m * dsub) throw new IllegalArgumentException(
      s"pq_lut: vector has $n lanes, codebook expects ${m * dsub} (m=$m x dsub=$dsub)")
    val out = new Array[Double](m * ks)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ks) {
        var s = 0.0
        var d = 0
        val base = (j * ks + c) * dsub
        while (d < dsub) { s += vec.getDouble(j * dsub + d) * flat(base + d); d += 1 }
        out(j * ks + c) = s
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC score: `sum_j lut[j*ks + (codes_j & 0xFF)]` — m lookups, no
    * multiplies (the approximate query·candidate dot).
    */
  def adc(codes: ArrayData, lutArr: ArrayData, m: Int, ks: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < m) {
      s += lutArr.getDouble(j * ks + (codes.getByte(j) & 0xFF))
      j += 1
    }
    s
  }

  /** Plain-array twins of [[lut]]/[[adc]] for the array form of
    * `Resident.PqScoring` (the driver mirror's fold and the
    * [[graft.operators.Pq.pqTopK]] scan): same loops, same
    * accumulation order, element for element — `ArrayData.getDouble(i)`
    * reads the identical double the primitive array holds at `i`, so the
    * two forms cannot drift (the ADC-algebra spec pins the expression form
    * against a driver recompute through THESE twins). Kept as separate
    * bodies rather than one delegating pair because the expression forms
    * run per ROW in generated code, where a per-call `toDoubleArray` copy
    * of a 32 KB LUT would be the exact per-pair allocation the scan kernel
    * exists to kill.
    */
  def lutArray(vec: Array[Double], flat: Array[Double], m: Int, ks: Int, dsub: Int): Array[Double] = {
    if (vec.length != m * dsub) throw new IllegalArgumentException(
      s"pq_lut: vector has ${vec.length} lanes, codebook expects ${m * dsub} (m=$m x dsub=$dsub)")
    val out = new Array[Double](m * ks)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ks) {
        var s = 0.0
        var d = 0
        val base = (j * ks + c) * dsub
        while (d < dsub) { s += vec(j * dsub + d) * flat(base + d); d += 1 }
        out(j * ks + c) = s
        c += 1
      }
      j += 1
    }
    out
  }

  def adcArray(codes: Array[Byte], lutArr: Array[Double], m: Int, ks: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < m) {
      s += lutArr(j * ks + (codes(j) & 0xFF))
      j += 1
    }
    s
  }
}

/** `array<double>` vector → `array<tinyint>` PQ codes against a fixed
  * codebook. The codebook rides the expression (reference object in
  * generated code); equality of two instances is by (m, ks, dsub) and
  * codebook identity, which only affects subexpression elimination, never
  * results.
  */
case class PqEncodeExpr(child: Expression, flat: Array[Double], m: Int, ks: Int, dsub: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if m >= 1 && ks >= 1 && ks <= 256 && dsub >= 1 &&
      flat.length == m * ks * dsub => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode needs array<double> and a consistent (m=$m, ks=$ks, dsub=$dsub, " +
        s"|flat|=${flat.length}) codebook with ks <= 256; got input $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    PqKernels.encode(input.asInstanceOf[ArrayData], flat, m, ks, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", flat, "double[]")
    defineCodeGen(ctx, ev, a => s"graft.functions.PqKernels.encode($a, $cb, $m, $ks, $dsub)")
  }

  override protected def withNewChildInternal(c: Expression): PqEncodeExpr = copy(child = c)
}

/** `array<double>` query vector → its `m*ks` ADC lookup table. */
case class PqLutExpr(child: Expression, flat: Array[Double], m: Int, ks: Int, dsub: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if m >= 1 && ks >= 1 && ks <= 256 && dsub >= 1 &&
      flat.length == m * ks * dsub => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_lut needs array<double> and a consistent (m=$m, ks=$ks, dsub=$dsub, " +
        s"|flat|=${flat.length}) codebook with ks <= 256; got input $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    PqKernels.lut(input.asInstanceOf[ArrayData], flat, m, ks, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", flat, "double[]")
    defineCodeGen(ctx, ev, a => s"graft.functions.PqKernels.lut($a, $cb, $m, $ks, $dsub)")
  }

  override protected def withNewChildInternal(c: Expression): PqLutExpr = copy(child = c)
}

/** `(codes array<tinyint>, lut array<double>) → double` ADC score. */
case class PqAdcExpr(left: Expression, right: Expression, m: Int, ks: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ByteType, _), ArrayType(DoubleType, _)) if m >= 1 && ks >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc needs (array<tinyint> codes, array<double> lut), got $l / $r")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqKernels.adc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m, ks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PqKernels.adc($a, $b, $m, $ks)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcExpr =
    copy(left = l, right = r)
}

object PqColumns {
  def pqEncode(vec: Column, flat: Array[Double], m: Int, ks: Int, dsub: Int): Column =
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(vec), flat, m, ks, dsub))
  def pqLut(vec: Column, flat: Array[Double], m: Int, ks: Int, dsub: Int): Column =
    ColumnBridge.column(PqLutExpr(ColumnBridge.expression(vec), flat, m, ks, dsub))
  def pqAdc(codes: Column, lut: Column, m: Int, ks: Int): Column =
    ColumnBridge.column(PqAdcExpr(
      ColumnBridge.expression(codes), ColumnBridge.expression(lut), m, ks))
}
